package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.Tables

/** Alignment-QC and variant-emission operators downstream of the
  * reference's pipeline stages — the steps a MitoScape user runs AROUND
  * the classifier (reference README.md:23,32 requires coordinate-sorted
  * input; README.md:50-52 sends the classified BAM to a variant caller):
  * coverage intervals (bedgraph), insert-size metrics, site-level variant
  * calls emitted as a sorted single-file VCF, and mate-consistent
  * subsampling. Each op states its 100 TB shuffle shape; gates are
  * synthesized from lineitem so DuckDB can replay the arithmetic.
  */
object Genomics {

  /** Reject any plan whose optimized form retains an unpartitioned
    * window — the q43-style in-row guard the sweep ops use so a
    * regression to a single-reducer window flips CORRECTNESS. */
  private def requireKeyedWindows(df: DataFrame, who: String): Unit = {
    val flat = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    require(flat.isEmpty,
      s"$who: unpartitioned window survived — sweep must be keyed by contig")
  }

  // ---------------------------------------------------------------- x18
  /** Maximal constant-depth COVERAGE INTERVALS (`bedtools genomecov -bga`
    * minus the zero rows / `samtools depth` run-length-collapsed) — the
    * artifact QC dashboards and callable-region pickers consume. Built on
    * x11's sweep: reads contribute (+1 at start, −1 at end) deltas,
    * deltas aggregate per boundary, and — the interval-specific step —
    * boundaries whose NET delta is zero are dropped BEFORE the running
    * sum: every surviving boundary then changes depth, so consecutive
    * boundaries delimit maximal runs by construction and no second
    * "merge equal neighbors" window pass is needed. Segments with depth 0
    * (gaps) fall out of the final filter; `end_pos` is exclusive.
    *
    * Scale shape: 2 shuffled rows per read (the boundary aggregate,
    * map-side combinable), then the TWO-LEVEL sweep of
    * [[boundaryPrefixScan]] — never corpus-global, and no longer one
    * reducer per contig either: within a monster contig the running sum
    * decomposes as t14's two-level prefix sum over position-range
    * buckets (previously promised in this scaladoc, now implemented). */
  def coverageIntervals(reads: DataFrame,
      bucketWidth: Long = 1L << 20): DataFrame =
    boundaryPrefixScan(boundaryDeltas(reads), bucketWidth)
      .where(col("depth") > 0)
      .select(col("contig"), col("pos").as("start_pos"),
        col("next_pos").as("end_pos"), col("depth"))

  /** Net per-boundary deltas for an interval frame (contig, start, end):
    * +1 at each start, −1 at each (exclusive) end, summed per position
    * (map-side combinable) with net-zero boundaries dropped — after the
    * drop every surviving boundary changes depth, which is what makes
    * the downstream runs maximal with no merge pass. */
  private def boundaryDeltas(intervals: DataFrame): DataFrame =
    intervals.select(col("contig"), explode(array(
        struct(col("start").as("pos"), lit(1L).as("delta")),
        struct(col("end").as("pos"), lit(-1L).as("delta")))).as("e"))
      .select(col("contig"), col("e.pos").as("pos"), col("e.delta").as("delta"))
      .groupBy(col("contig"), col("pos")).agg(sum(col("delta")).as("delta"))
      .where(col("delta") =!= 0)

  /** TWO-LEVEL DISTRIBUTED PREFIX SCAN over boundary rows
    * (contig, pos, delta) — the decomposition that removes the
    * one-reducer-per-contig straggler the r9/r10 verdicts flagged for
    * the sweep family (a human WGS run concentrates ~8% of all
    * boundaries on chr1). Positions bucket into ranges of `bucketWidth`;
    * level 1 runs the running sum and intra-bucket `lead(pos)` under a
    * (contig, bucket)-keyed window — uniform parallelism within a
    * contig; level 2 prefix-sums the per-bucket TOTALS under a
    * contig-keyed window over bucket summaries — rows bounded by
    * contig_length / bucketWidth (≈250 for chr1 at the 1 Mb default),
    * never by read or boundary count. depth = local cum + preceding
    * buckets' offset; `next_pos` chains across bucket boundaries by
    * taking the next NON-EMPTY bucket's first position from the same
    * summary frame (null only at each contig's last boundary, where the
    * net depth is 0 anyway). Same technique as t14/t30's two-level
    * rank; exercised with multi-bucket widths by the x11/x18/x29/x30/
    * x33 gates and regression-pinned by [[requireBucketedSweep]]. */
  def boundaryPrefixScan(diff: DataFrame, bucketWidth: Long): DataFrame = {
    val b = diff.withColumn("__bkt", expr(s"pos div $bucketWidth"))
    val wLoc = Window.partitionBy(col("contig"), col("__bkt"))
      .orderBy(col("pos"))
    val loc = b.select(col("contig"), col("__bkt"), col("pos"), col("delta"),
      sum(col("delta")).over(wLoc).as("__lcum"),
      lead(col("pos"), 1).over(wLoc).as("__next_in_bkt"))
    val sums = b.groupBy(col("contig"), col("__bkt"))
      .agg(sum(col("delta")).as("__tot"), min(col("pos")).as("__first"))
    val wB = Window.partitionBy(col("contig")).orderBy(col("__bkt"))
    val off = sums.select(col("contig"), col("__bkt"),
      (sum(col("__tot")).over(wB) - col("__tot")).as("__off"),
      lead(col("__first"), 1).over(wB).as("__next_bkt_pos"))
    loc.join(off, Seq("contig", "__bkt"))
      .select(col("contig"), col("pos"), col("delta"),
        (col("__lcum") + col("__off")).as("depth"),
        coalesce(col("__next_in_bkt"), col("__next_bkt_pos")).as("next_pos"))
  }

  /** `next_pos` = the following row's pos in (contig → pos) order,
    * computed with the same two-level shape as [[boundaryPrefixScan]]
    * instead of a per-contig window over the rows themselves: lead
    * within (contig, bucket), and for each bucket's last row the next
    * non-empty bucket's first position from the summary frame. */
  def twoLevelNextPos(rows: DataFrame, bucketWidth: Long): DataFrame = {
    val b = rows.withColumn("__bkt", expr(s"pos div $bucketWidth"))
    val wLoc = Window.partitionBy(col("contig"), col("__bkt"))
      .orderBy(col("pos"))
    val sums = b.groupBy(col("contig"), col("__bkt"))
      .agg(min(col("pos")).as("__first"))
    val wB = Window.partitionBy(col("contig")).orderBy(col("__bkt"))
    val nxt = sums.select(col("contig"), col("__bkt"),
      lead(col("__first"), 1).over(wB).as("__next_bkt_pos"))
    b.withColumn("__next_in_bkt", lead(col("pos"), 1).over(wLoc))
      .join(nxt, Seq("contig", "__bkt"))
      .withColumn("next_pos",
        coalesce(col("__next_in_bkt"), col("__next_bkt_pos")))
      .drop("__bkt", "__first", "__next_in_bkt", "__next_bkt_pos")
  }

  /** [[requireKeyedWindows]] plus the bucketed-sweep pin: the optimized
    * plan must retain at least one window keyed by TWO-or-more
    * expressions (the (contig, bucket) level-1 pass) — a regression to
    * a flat per-contig sweep flips CORRECTNESS, not just a bench
    * number. */
  private[operators] def requireBucketedSweep(df: DataFrame,
      who: String): Unit = {
    requireKeyedWindows(df, who)
    val bucketed = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.length >= 2 => w
    }
    require(bucketed.nonEmpty,
      s"$who: no (contig, bucket)-keyed window in the plan — the sweep " +
        "has regressed to a flat per-contig prefix sum")
  }

  /** Driver gate: 10 bp reads on two contigs synthesized from lineitem;
    * the oracle recomputes intervals by the naive per-base GROUP BY +
    * gaps-and-islands formulation the sweep replaces. */
  def x18CoverageIntervals(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 6 === 3)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val r = coverageIntervals(reads, bucketWidth = 512L)
      .orderBy("contig", "start_pos")
    requireBucketedSweep(r, "x18")
    r
  }

  val x18Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig, (l_partkey % 400) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 6 = 3),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT contig, pos, COUNT(*) AS depth FROM p GROUP BY 1, 2),
      |m AS (SELECT contig, pos, depth,
      |  CASE WHEN lag(pos) OVER w = pos - 1 AND lag(depth) OVER w = depth
      |       THEN 0 ELSE 1 END AS brk
      |  FROM dep WINDOW w AS (PARTITION BY contig ORDER BY pos)),
      |g AS (SELECT contig, pos, depth,
      |  SUM(brk) OVER (PARTITION BY contig ORDER BY pos) AS grp FROM m)
      |SELECT contig, CAST(MIN(pos) AS BIGINT) AS start_pos,
      |  CAST(MAX(pos) + 1 AS BIGINT) AS end_pos,
      |  CAST(depth AS BIGINT) AS depth
      |FROM g GROUP BY contig, grp, depth
      |ORDER BY contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x19
  /** INSERT-SIZE distribution (`samtools stats` "insert size" section /
    * Picard CollectInsertSizeMetrics) — the library-prep QC every
    * paired-end pipeline reports. Each template is counted ONCE via the
    * SAM convention that the leftmost mate carries the positive TLEN
    * (spec §1.4.9), so no pair/dedup join is needed; the histogram is a
    * single map-side-combinable aggregate on `tlen DIV binWidth` with
    * exact integer summaries per bin.
    *
    * Scale shape: narrow scan (flag+tlen only — columnar pruning leaves
    * names/sequences unread) → one tiny-keyed groupBy. Nothing else. */
  def insertSizeHistogram(reads: DataFrame, binWidth: Int): DataFrame =
    reads.where(col("tlen") > 0)
      .select(expr(s"CAST(tlen DIV $binWidth AS BIGINT)").as("bin"),
        col("tlen"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("tlen")).cast("long").as("sum_tlen"),
        min(col("tlen")).as("min_tlen"),
        max(col("tlen")).as("max_tlen"))
      .orderBy("bin")

  /** Driver gate: templates synthesized from lineitem as proper pairs —
    * the leftmost mate (flag 99) carries +T, the rightmost (flag 147)
    * −T, so the one-sided count is exactly one row per template. */
  def x19InsertSize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 7 === 1)
    val t = ((col("l_partkey") % 900) + 100).cast("int")
    val reads = li.select(explode(array(
        struct(lit(99).as("flag"), t.as("tlen")),
        struct(lit(147).as("flag"), (-t).as("tlen")))).as("e"))
      .select(col("e.flag").as("flag"), col("e.tlen").as("tlen"))
    insertSizeHistogram(reads, 100)
  }

  val x19Sql: String =
    """SELECT CAST(t // 100 AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(t) AS BIGINT) AS sum_tlen,
      |  CAST(MIN(t) AS INT) AS min_tlen,
      |  CAST(MAX(t) AS INT) AS max_tlen
      |FROM (SELECT (l_partkey % 900) + 100 AS t
      |      FROM lineitem WHERE l_orderkey % 7 = 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- x20
  /** Site-level VARIANT CALLS → sorted single-file VCF — the handoff from
    * this engine to the reference workflow's downstream caller
    * (README.md:50-52). Per-site allele count (AC) and read depth (DP)
    * are computed in ONE pass by merging variant observations into the
    * pileup sweep's event stream: reads contribute (±1, 0) boundary
    * events, variant observations contribute (0, +1) probe events at
    * their site, a single per-contig running sum over the merged
    * aggregated stream yields DP at every position INCLUDING the probe
    * sites — no join between a depth table and a variant table at all
    * (the join is the naive formulation; merged events make it a second
    * column of the same aggregate). Sites then render through
    * [[graft.sources.VcfWriter]] (range-partitioned dictionary-order
    * sort, distributed part streaming, driver byte concat).
    *
    * Scale shape: 3 shuffled event rows per read, one per-contig window
    * (keyed — in-plan require), one range exchange for the sort. The
    * gate re-reads the written artifact (splittable plain text) and
    * pins the parse-back aggregate, plus the header-line count, against
    * the synthesis arithmetic. */
  def callSites(reads: DataFrame): DataFrame = {
    val events = reads.select(col("contig"), explode(array(
        struct(col("start").as("pos"), lit(1L).as("delta"), lit(0L).as("q")),
        struct(col("end").as("pos"), lit(-1L).as("delta"), lit(0L).as("q")),
        struct(col("var_pos").as("pos"), lit(0L).as("delta"),
          when(col("var_pos").isNotNull, 1L).otherwise(0L).as("q")))).as("e"))
      .select(col("contig"), col("e.pos").as("pos"),
        col("e.delta").as("delta"), col("e.q").as("q"))
      .where(col("pos").isNotNull)
      .groupBy(col("contig"), col("pos"))
      .agg(sum(col("delta")).as("delta"), sum(col("q")).as("ac"))
    val w = Window.partitionBy(col("contig")).orderBy(col("pos"))
    events
      .withColumn("dp", sum(col("delta")).over(w))
      .where(col("ac") > 0)
      .select(col("contig"), col("pos"), col("ac"), col("dp"))
  }

  def x20VcfGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HadoopIO, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 6 === 5)
    // two contigs, dictionary order chrM < chr1: a constant contig would
    // let Catalyst fold the window's partition key away (and would leave
    // the per-contig path untested — the x11 lesson)
    val reads = li.select(
        when(col("l_suppkey") % 2 === 0, "chrM").otherwise("chr1")
          .as("contig"),
        ((col("l_partkey") % 1000) + 1).cast("long").as("start"),
        (col("l_linenumber") % 3 === 0).as("has_var"))
      .withColumn("end", col("start") + 10L)
      .withColumn("var_pos", when(col("has_var"), col("start") + 2L))
    val sites = callSites(reads)
      .select(col("contig"), col("pos"), lit("A").as("ref"),
        lit("G").as("alt"), col("ac"), col("dp"))
    requireKeyedWindows(sites, "x20")
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x20_$sfTag.vcf"
    VcfWriter.write(sites, Seq("chrM" -> 16569, "chr1" -> 200000), out)
    val meta = s.read.text(out)
      .where(col("value").startsWith("#"))
      .agg(count(lit(1)).as("n_meta"))
    VcfWriter.read(s, out)
      .agg(count(lit(1)).as("n_sites"), sum(col("pos")).as("sum_pos"),
        sum(col("ac")).as("sum_ac"), sum(col("dp")).as("sum_dp"),
        countDistinct(col("contig")).as("n_contigs"))
      .crossJoin(meta)
  }

  /** Oracle replays the synthesis: AC per (contig, site) from the planted
    * variant rows, DP from the naive per-base depth the merged sweep
    * replaces; the 6 meta lines are the writer's fixed header shape
    * (fileformat + 2 contigs + 2 INFO + column header). */
  val x20Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chrM' ELSE 'chr1' END
      |    AS contig, (l_partkey % 1000) + 1 AS st,
      |    (l_linenumber % 3 = 0) AS v
      |  FROM lineitem WHERE l_orderkey % 6 = 5),
      |vs AS (SELECT contig, st + 2 AS pos, COUNT(*) AS ac FROM r
      |  WHERE v GROUP BY 1, 2),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT contig, pos, COUNT(*) AS dp FROM p GROUP BY 1, 2)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_sites,
      |  CAST(SUM(pos) AS BIGINT) AS sum_pos,
      |  CAST(SUM(ac) AS BIGINT) AS sum_ac,
      |  CAST(SUM(dp) AS BIGINT) AS sum_dp,
      |  CAST(COUNT(DISTINCT contig) AS BIGINT) AS n_contigs,
      |  CAST(6 AS BIGINT) AS n_meta
      |FROM vs JOIN dep USING (contig, pos)""".stripMargin

  // ---------------------------------------------------------------- x21
  /** Mate-consistent SUBSAMPLING (`samtools view -s` semantics): keep a
    * read iff a hash of its template name clears the keep threshold —
    * both mates share the name, so templates survive or drop WHOLE, with
    * zero coordination (no pair join, no state). The hash is md5-derived
    * (first 8 hex digits mod 1000 vs a permille threshold) so the
    * decision is engine-replayable, seed-stable, and independent of
    * position — subsampled coverage stays uniform.
    *
    * Scale shape: a pure narrow filter — no shuffle at all, and with a
    * columnar source only the name column is read to decide. The gate's
    * orphan audit (names with exactly one kept mate, necessarily zero) is the only
    * shuffle, and it is gate plumbing, not the operator. */
  def downsampleReads(reads: DataFrame, keepPermille: Int,
      seed: String): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      s"keepPermille must be in [0,1000], got $keepPermille")
    reads.where(
      conv(substring(md5(concat(col("readName"), lit(seed))), 1, 8), 16, 10)
        .cast("long") % 1000 < keepPermille)
  }

  def x21DownsampleGate(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 7 === 3)
    val name = concat(lit("r"), col("l_orderkey"), lit("_"),
      col("l_linenumber"), lit("_"), col("l_partkey"), lit("_"),
      col("l_suppkey"))
    val reads = li.select(name.as("readName"),
        explode(array(lit(99), lit(147))).as("flag"),
        col("l_quantity").cast("int").as("mapQ"))
    val kept = downsampleReads(reads, 250, "g21")
    kept.groupBy(col("readName"))
      .agg(count(lit(1)).as("c"), sum(col("mapQ")).as("mq"))
      .agg(sum(col("c")).as("n_kept"),
        sum((col("c") === 2).cast("long")).as("n_pairs"),
        sum((col("c") === 1).cast("long")).as("n_orphans"),
        sum(col("mq")).as("sum_mapq"))
  }

  /** Oracle replays the md5 threshold per template name; orphans are
    * structurally zero (the filter is a pure name function). */
  val x21Sql: String =
    """WITH r AS (
      |  SELECT 'r' || l_orderkey || '_' || l_linenumber || '_' ||
      |    l_partkey || '_' || l_suppkey AS name,
      |    CAST(l_quantity AS INT) AS q
      |  FROM lineitem WHERE l_orderkey % 7 = 3),
      |k AS (SELECT name, q FROM r
      |  WHERE CAST(CONCAT('0x', substr(md5(name || 'g21'), 1, 8)) AS BIGINT)
      |    % 1000 < 250)
      |SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(0 AS BIGINT) AS n_orphans,
      |  CAST(2 * SUM(q) AS BIGINT) AS sum_mapq
      |FROM k""".stripMargin

  // ---------------------------------------------------------------- x22
  /** NM-tag CONSISTENCY AUDIT (`samtools calmd` / ValidateSamFile's
    * NM check) — the cross-kernel QC every pipeline runs after
    * realignment: the claimed NM edit distance must equal what the MD
    * tag and CIGAR actually describe (substitutions from MD + inserted
    * bases from CIGAR I + deleted bases from CIGAR D), and the MD
    * deletion runs must agree with CIGAR D base-for-base. MD
    * substitutions = letters remaining after stripping `^`-runs, MD
    * deletions = summed `^`-run lengths (regexp_extract_all + HOF
    * fold), CIGAR ins/del from the native one-pass codegen expression
    * [[graft.functions.CigarSumsExpr]]. Reads whose claimed NM
    * disagrees are flagged, not "fixed" — the audit is the operator.
    *
    * Scale shape: narrow per-row expressions + one global aggregate;
    * zero shuffles before the final combine. */
  def nmAudit(reads: DataFrame): DataFrame = {
    val cs = graft.functions.CigarSumsExpr.cigarSums(col("cigar"))
    val stripped = regexp_replace(col("md"), "\\^[ACGTN]+", "")
    val subs = (length(stripped) -
      length(regexp_replace(stripped, "[ACGTN]", ""))).cast("long")
    val delMd = aggregate(
      transform(regexp_extract_all(col("md"), lit("\\^([ACGTN]+)"), lit(1)),
        r => length(r).cast("long")),
      lit(0L), (acc, x) => acc + x)
    reads
      .withColumn("__cs", cs)
      .withColumn("nm_expected",
        subs + col("__cs.ins") + col("__cs.del"))
      .withColumn("del_cigar", col("__cs.del"))
      .withColumn("del_md", delMd)
      .drop("__cs")
      .withColumn("nm_claimed",
        regexp_extract(col("attributes"), "NM:i:(\\d+)", 1).cast("long"))
      .withColumn("nm_ok", col("nm_claimed") === col("nm_expected"))
      .withColumn("del_ok", col("del_cigar") === col("del_md"))
  }

  /** Driver gate: MD/CIGAR/NM synthesized coherently from lineitem, with
    * NM corrupted (+1) on a key-derivable subset — the flagged count and
    * both checksums are closed-form oracle arithmetic (x12's check-the-
    * parser-against-the-construction discipline). */
  def x22NmAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 10 === 7)
    val nsub = col("l_linenumber") % 3
    val ins = col("l_suppkey") % 4 + 1
    val del = col("l_partkey") % 5 + 1
    val bad = (col("l_orderkey") % 13 === 0).cast("int")
    val reads = li.select(
      concat(lit("4"), expr("repeat('A3', l_linenumber % 3)"), lit("^"),
        expr("repeat('G', l_partkey % 5 + 1)"), lit("6")).as("md"),
      concat(lit("10M"), ins, lit("I"), lit("5M"), del, lit("D"), lit("6M"))
        .as("cigar"),
      concat(lit("NM:i:"), nsub + ins + del + bad).as("attributes"))
    nmAudit(reads).agg(
      count(lit(1)).as("n_reads"),
      sum(col("nm_ok").cast("long")).as("n_ok"),
      sum((!col("nm_ok")).cast("long")).as("n_flagged"),
      sum(col("del_ok").cast("long")).as("n_del_ok"),
      sum(col("nm_claimed")).as("sum_claimed"),
      sum(col("nm_expected")).as("sum_expected"))
  }

  val x22Sql: String =
    """WITH r AS (
      |  SELECT l_linenumber % 3 AS nsub, l_suppkey % 4 + 1 AS ins,
      |    l_partkey % 5 + 1 AS del,
      |    CASE WHEN l_orderkey % 13 = 0 THEN 1 ELSE 0 END AS bad
      |  FROM lineitem WHERE l_orderkey % 10 = 7)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(1 - bad) AS BIGINT) AS n_ok,
      |  CAST(SUM(bad) AS BIGINT) AS n_flagged,
      |  CAST(COUNT(*) AS BIGINT) AS n_del_ok,
      |  CAST(SUM(nsub + ins + del + bad) AS BIGINT) AS sum_claimed,
      |  CAST(SUM(nsub + ins + del) AS BIGINT) AS sum_expected
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x23
  /** Per-contig BASE COMPOSITION / GC content (`samtools stats` GC
    * section, FastQC per-base content) — counts of A/C/G/T across each
    * contig's reads plus the integer-exact GC permille. Per-base counts
    * come from the length-difference of `translate` (count of G =
    * len(seq) − len(seq without G)) — a codegen string kernel, no
    * explode-per-base (which would shuffle read_len× the input).
    *
    * Scale shape: narrow 2-column scan → map-side-combinable per-contig
    * aggregate; contigs are dozens, the combine is trivial. */
  def baseComposition(reads: DataFrame): DataFrame = {
    def cnt(b: String) =
      (length(col("sequence")) -
        length(translate(col("sequence"), b, ""))).cast("long")
    reads.select(col("contig"), length(col("sequence")).cast("long").as("len"),
        cnt("A").as("a"), cnt("C").as("c"), cnt("G").as("g"), cnt("T").as("t"))
      .groupBy(col("contig"))
      .agg(count(lit(1)).as("n_reads"), sum(col("len")).as("n_bases"),
        sum(col("a")).as("n_a"), sum(col("c")).as("n_c"),
        sum(col("g")).as("n_g"), sum(col("t")).as("n_t"))
      .withColumn("gc_permille", expr("((n_g + n_c) * 1000) div n_bases"))
      .orderBy("contig")
  }

  /** Driver gate: sequences built as A^a C^c G^g T^t runs with
    * lineitem-derived run lengths, so every count is closed-form. */
  def x23BaseComposition(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 10 === 9)
    val reads = li.select(
      when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM").as("contig"),
      concat(expr("repeat('A', CAST(l_quantity AS INT) % 20 + 1)"),
        expr("repeat('C', l_partkey % 7 + 1)"),
        expr("repeat('G', l_suppkey % 9 + 1)"),
        expr("repeat('T', l_linenumber % 5 + 1)")).as("sequence"))
    baseComposition(reads)
  }

  val x23Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig,
      |    CAST(l_quantity AS INT) % 20 + 1 AS a, l_partkey % 7 + 1 AS c,
      |    l_suppkey % 9 + 1 AS g, l_linenumber % 5 + 1 AS t
      |  FROM lineitem WHERE l_orderkey % 10 = 9)
      |SELECT contig, CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(a + c + g + t) AS BIGINT) AS n_bases,
      |  CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(c) AS BIGINT) AS n_c,
      |  CAST(SUM(g) AS BIGINT) AS n_g, CAST(SUM(t) AS BIGINT) AS n_t,
      |  CAST((SUM(g) + SUM(c)) * 1000 // SUM(a + c + g + t) AS BIGINT)
      |    AS gc_permille
      |FROM r GROUP BY contig ORDER BY contig""".stripMargin

  // ---------------------------------------------------------------- x24
  /** The COMPOSED post-classifier workflow as one gate — the x08
    * discipline applied downstream: every stage that x16-x23 gate in
    * isolation must also compose over REAL artifacts, because stage
    * boundaries (writer schema, sort order, flag conventions) are where
    * pipelines actually break. One pass: unsorted cohort → in-engine
    * coordinate sort to a single-file BAM ([[graft.sources.BamWriter]])
    * → multi-split binary scan back → PCR duplicate marking
    * ([[MitoQueries.markDuplicates]]) → duplicate-filtered geometry →
    * coverage intervals (x18's sweep) AND site-level variant calls
    * (x20's merged-event sweep) → coordinate-sorted VCF → parse-back.
    * Fragment signatures and variant sites are functions of the
    * SIGNATURE (not the read), so the oracle needs no knowledge of which
    * duplicate the keep rule chose — kept geometry ≡ distinct signatures,
    * and every downstream number is closed-form arithmetic.
    *
    * Scale shape: the stages' own shapes, composed — range exchange
    * (sort), uniform signature shuffle (markdup), 2-3 event rows per
    * read + per-contig windows (sweeps), range exchange (VCF); no stage
    * adds a corpus-global structure the pieces didn't already have. */
  def x24WorkflowGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 11 === 4)
    val st = ((col("l_partkey") % 300) + 1).cast("int")
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey"))
        .as("readName"),
      lit(99).as("flag"),
      when(col("l_suppkey") % 2 === 0, "chrM").otherwise("chr1")
        .as("referenceName"),
      st.as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      (st + 500).as("pnext"), lit(500).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val refs = Seq("chrM" -> 16569, "chr1" -> 200000)
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x24_$sfTag"
    val outBam = root + ".bam"
    BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n" +
        refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString,
      refs, outBam, numPartitions = 8)
    val reads = s.read.format("bam").option("splitsize", 64 * 1024)
      .load(outBam)
    val kept = MitoQueries.markDuplicates(reads)
      .where(col("flag").bitwiseAND(lit(1024)) === 0)
    val geo = kept.select(col("referenceName").as("contig"),
        col("start").cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val cov = coverageIntervals(geo)
    requireKeyedWindows(cov, "x24/coverage")
    val covAgg = cov.agg(
      count(lit(1)).as("n_intervals"),
      sum((col("end_pos") - col("start_pos")) * col("depth") * col("depth"))
        .as("cov_sq"))
    val sites = callSites(
        geo.withColumn("var_pos",
          when(col("start") % 3 === 0, col("start") + 2L)))
      .select(col("contig"), col("pos"), lit("A").as("ref"),
        lit("G").as("alt"), col("ac"), col("dp"))
    requireKeyedWindows(sites, "x24/sites")
    val outVcf = root + ".vcf"
    VcfWriter.write(sites, refs, outVcf)
    reads.agg(count(lit(1)).as("n_input"))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .crossJoin(covAgg)
      .crossJoin(VcfWriter.read(s, outVcf)
        .agg(count(lit(1)).as("n_sites"), sum(col("ac")).as("sum_ac"),
          sum(col("dp")).as("sum_dp")))
  }

  /** Oracle: kept geometry = distinct (contig, start) signatures; depth,
    * islands, and per-site sums replayed by the naive formulations. */
  val x24Sql: String =
    """WITH sl AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chrM' ELSE 'chr1' END
      |    AS contig, (l_partkey % 300) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 11 = 4),
      |r AS (SELECT DISTINCT contig, st FROM sl),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT contig, pos, COUNT(*) AS d FROM p GROUP BY 1, 2),
      |isl AS (SELECT contig, pos, d,
      |    CASE WHEN lag(pos) OVER w = pos - 1 AND lag(d) OVER w = d
      |         THEN 0 ELSE 1 END AS brk
      |  FROM dep WINDOW w AS (PARTITION BY contig ORDER BY pos)),
      |vs AS (SELECT contig, st + 2 AS pos FROM r WHERE st % 3 = 0)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS n_input,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_kept,
      |  (SELECT CAST(SUM(brk) AS BIGINT) FROM isl) AS n_intervals,
      |  (SELECT CAST(SUM(d * d) AS BIGINT) FROM dep) AS cov_sq,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM vs) AS n_sites,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM vs) AS sum_ac,
      |  (SELECT CAST(SUM(dep.d) AS BIGINT) FROM vs
      |     JOIN dep ON vs.contig = dep.contig AND vs.pos = dep.pos)
      |    AS sum_dp""".stripMargin

  // ---------------------------------------------------------------- x25
  /** STREAMING bucketed coverage — real-time sequencing QC (the "is this
    * flowcell producing even coverage" dashboard a long-running run
    * watches while still sequencing): reads arrive as a stream and depth
    * accumulates per (contig, position-bucket). The exact per-base sweep
    * (x11/x18) needs an ordered prefix sum — not a streaming-friendly
    * state shape — but BUCKETED coverage is a plain keyed aggregation:
    * each read explodes to the 1-2 fixed-width buckets it overlaps
    * (q52's binning bound: ≤ len/w + 1 per read) carrying its covered
    * base mass, and the groupBy holds O(buckets) state, not O(reads).
    * The SAME plan runs batch and stream (the EventStreams discipline);
    * the gate streams a staged parquet of synthesized reads through a
    * session clone's memory sink and oracle-checks the streamed TABLE
    * row-for-row against closed-form arithmetic — not just a parity
    * boolean. */
  def bucketDepth(reads: DataFrame, bucketWidth: Int): DataFrame = {
    val w = bucketWidth.toLong
    reads
      .withColumn("bucket",
        explode(sequence(expr(s"start div $w"), expr(s"(end - 1) div $w"))))
      .withColumn("mass",
        least(col("end"), (col("bucket") + 1) * w) -
          greatest(col("start"), col("bucket") * w))
      .groupBy(col("contig"), col("bucket"))
      .agg(count(lit(1)).as("n_reads"), sum(col("mass")).as("mass"))
  }

  def x25StreamDepthGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.HadoopIO
    val recs = Tables.lineitem(s, d).where(col("l_orderkey") % 12 === 6)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 700) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val stageDir = s"${HadoopIO.scratchDir(s)}/graft_x25_$sfTag"
    recs.write.mode("overwrite").parquet(stageDir)
    // isolated session clone + dataset-tagged sink name: concurrent runs
    // on different sf dirs must not race on the memory table
    val s2 = s.newSession()
    val stream = s2.readStream.schema(recs.schema).parquet(stageDir)
    val tbl = s"x25_streamed_$sfTag"
    val q = bucketDepth(stream, 64)
      .writeStream.format("memory").queryName(tbl).outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    s2.table(tbl)
      .select(col("contig"), col("bucket"), col("n_reads"),
        col("mass").cast("long").as("mass"))
      .orderBy("contig", "bucket")
  }

  /** Oracle replays the binning arithmetic per read. */
  val x25Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig, (l_partkey % 700) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 12 = 6),
      |b AS (SELECT contig, st,
      |    unnest(generate_series(st // 64, (st + 9) // 64)) AS bucket
      |  FROM r)
      |SELECT contig, CAST(bucket AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(LEAST(st + 10, (bucket + 1) * 64)
      |    - GREATEST(st, bucket * 64)) AS BIGINT) AS mass
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- x26
  /** HAPLOGROUP ASSIGNMENT — the standard companion analysis to
    * mitochondrial variant calling (haplogrep-style: the reference's
    * chrM pipeline feeds exactly this kind of downstream typing): each
    * sample's variant set is scored against every haplogroup's defining
    * variant set and the best-supported haplogroup wins, ties totalized
    * by (score desc, haplogroup asc). The tree is a dimension —
    * broadcast exploded to (hg, variant) rows, equi-joined to the
    * per-sample variant set, one (sample, hg) count aggregate, then a
    * per-SAMPLE rank window (bounded by the number of haplogroups, never
    * corpus-global).
    *
    * Scale shape: variant sets shuffle once on the uniform variant key
    * against a broadcast dim; the rank window's partitions are
    * tree-size-bounded. Nothing corpus-global. */
  def classifyHaplogroups(variants: DataFrame, tree: DataFrame): DataFrame = {
    // Broadcast-size contract (d02/d18 discipline): the tree is a
    // PhyloTree-shaped dimension — thousands of (hg, var) rows, not a
    // corpus. A million-edge "tree" must fail LOUDLY here and be re-run
    // as a plain shuffled equi-join (drop the broadcast hint), not
    // silently OOM every executor with a gigabyte broadcast.
    val s = tree.sparkSession
    val cap = s.conf.getOption("spark.graft.haplotreeMaxRows")
      .map(_.toLong).getOrElse(500000L)
    val treeRows = tree.count()
    require(treeRows <= cap,
      s"classifyHaplogroups refused: $treeRows (hg, var) tree rows > cap " +
        s"$cap — the tree is broadcast to every executor and the rank " +
        "window is bounded by the haplogroup count, which only holds for " +
        "dimension-sized trees; for larger trees use a shuffled equi-join " +
        "formulation, or raise spark.graft.haplotreeMaxRows deliberately")
    val w = Window.partitionBy(col("sample"))
      .orderBy(col("score").desc, col("hg").asc)
    variants.join(broadcast(tree), Seq("var"))
      .groupBy(col("sample"), col("hg"))
      .agg(count(lit(1)).as("score"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("sample"), col("hg").as("hg_pred"), col("score"))
  }

  /** Driver gate: 8 haplogroups with disjoint 4-variant definitions plus
    * one tree-wide common variant (contributes to every score, decides
    * nothing); each sample carries 2-4 of its true haplogroup's defining
    * variants, the common variant, and (every 5th sample) one decoy from
    * a rival — true score ≥ 3 > rival ≤ 2, so the argmax is closed-form
    * and the 50-row prediction table hash-checks exactly. */
  def x26Haplogroup(s: SparkSession, d: String): DataFrame = {
    val samples = Tables.lineitem(s, d).where(col("l_orderkey") % 9 === 5)
      .select((col("l_orderkey") % 50).cast("long").as("sample")).distinct()
    val own = samples.select(col("sample"),
        explode(sequence(lit(0L), col("sample") % 3 + 1)).as("j"))
      .select(col("sample"),
        concat(lit("v"), (col("sample") % 8) * 10 + col("j")).as("var"))
    val common = samples.select(col("sample"), lit("v999").as("var"))
    val decoy = samples.where(col("sample") % 5 === 0)
      .select(col("sample"),
        concat(lit("v"), ((col("sample") % 8 + 1) % 8) * 10).as("var"))
    val variants = own.unionByName(common).unionByName(decoy).distinct()
    val tree = s.range(8).toDF("hg")
      .select(col("hg"), explode(sequence(lit(0L), lit(3L))).as("j"))
      .select(col("hg"), concat(lit("v"), col("hg") * 10 + col("j")).as("var"))
      .unionByName(s.range(8).toDF("hg")
        .select(col("hg"), lit("v999").as("var")))
    classifyHaplogroups(variants, tree)
      .withColumn("is_correct", col("hg_pred") === col("sample") % 8)
      .orderBy("sample")
  }

  val x26Sql: String =
    """WITH samples AS (
      |  SELECT DISTINCT CAST(l_orderkey % 50 AS BIGINT) AS sample
      |  FROM lineitem WHERE l_orderkey % 9 = 5),
      |own AS (SELECT sample,
      |    'v' || ((sample % 8) * 10 +
      |      unnest(generate_series(0, sample % 3 + 1))) AS var
      |  FROM samples),
      |sv AS (
      |  SELECT sample, var FROM own
      |  UNION SELECT sample, 'v999' FROM samples
      |  UNION SELECT sample, 'v' || (((sample % 8 + 1) % 8) * 10)
      |    FROM samples WHERE sample % 5 = 0),
      |tree AS (
      |  SELECT hg, 'v' || (hg * 10 + j) AS var
      |  FROM generate_series(0, 7) t(hg), generate_series(0, 3) u(j)
      |  UNION SELECT hg, 'v999' FROM generate_series(0, 7) t(hg)),
      |sc AS (SELECT sample, hg, COUNT(*) AS score
      |  FROM sv JOIN tree USING (var) GROUP BY 1, 2),
      |rk AS (SELECT sample, hg, score, ROW_NUMBER() OVER (
      |    PARTITION BY sample ORDER BY score DESC, hg ASC) AS r FROM sc)
      |SELECT sample, CAST(hg AS BIGINT) AS hg_pred,
      |  CAST(score AS BIGINT) AS score,
      |  (hg = sample % 8) AS is_correct
      |FROM rk WHERE r = 1 ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x27
  /** mtDNA COPY-NUMBER estimate (mtDNA-CN) — the headline sample-level
    * metric of mitochondrial genomics (copies of the mitochondrial
    * genome per cell ≈ 2 × mean mito depth / mean nuclear depth, the
    * quantity the reference's whole classification pipeline exists to
    * make estimable without NUMT inflation): mean depths from per-contig
    * aligned-base mass over contig length, combined as STAGED integer
    * milli-ratios (each stage's div is deterministic and engine-
    * replayable; a one-shot rational would be exacter but overflows
    * int64 once mass reaches genome scale — the staged form's magnitudes
    * stay bounded by 1000 × depth).
    *
    * Scale shape: one narrow scan → a 2-cell conditional-sum aggregate;
    * contig lengths are driver constants from the header dictionary.
    * Nothing shuffles but the final combine. */
  def mtCopyNumber(reads: DataFrame, lens: Seq[(String, Int)],
      mito: String): DataFrame = {
    val lenMt = lens.collect { case (n, l) if n == mito => l.toLong }.sum
    val lenNuc = lens.collect { case (n, l) if n != mito => l.toLong }.sum
    require(lenMt > 0 && lenNuc > 0, "dictionary must cover both sides")
    reads
      .agg(
        sum(when(col("contig") === mito, col("end") - col("start"))
          .otherwise(0L)).as("mass_mt"),
        sum(when(col("contig") =!= mito, col("end") - col("start"))
          .otherwise(0L)).as("mass_nuc"))
      .withColumn("depth_mt_milli", expr(s"(1000 * mass_mt) div $lenMt"))
      .withColumn("depth_nuc_milli", expr(s"(1000 * mass_nuc) div $lenNuc"))
      .withColumn("cn_milli",
        expr("(2000 * depth_mt_milli) div depth_nuc_milli"))
  }

  def x27MtCopyNumber(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 13 === 6)
      .select(
        when(col("l_suppkey") % 4 === 0, "chrM").otherwise("chr1")
          .as("contig"),
        ((col("l_partkey") % 1000) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    mtCopyNumber(reads, Seq("chrM" -> 16569, "chr1" -> 200000), "chrM")
  }

  val x27Sql: String =
    """WITH r AS (
      |  SELECT (l_suppkey % 4 = 0) AS mt
      |  FROM lineitem WHERE l_orderkey % 13 = 6),
      |m AS (SELECT
      |  CAST(10 * SUM(CASE WHEN mt THEN 1 ELSE 0 END) AS BIGINT) AS mass_mt,
      |  CAST(10 * SUM(CASE WHEN mt THEN 0 ELSE 1 END) AS BIGINT) AS mass_nuc
      |  FROM r),
      |dd AS (SELECT mass_mt, mass_nuc,
      |  (1000 * mass_mt) // 16569 AS depth_mt_milli,
      |  (1000 * mass_nuc) // 200000 AS depth_nuc_milli FROM m)
      |SELECT mass_mt, mass_nuc, depth_mt_milli, depth_nuc_milli,
      |  (2000 * depth_mt_milli) // depth_nuc_milli AS cn_milli
      |FROM dd""".stripMargin

  // ---------------------------------------------------------------- x28
  /** INTERVAL INTERSECTION (`bedtools intersect`) — region arithmetic,
    * the glue of every genomics workflow (restrict calls to capture
    * targets, coverage to exons, …): emit the overlap segment of every
    * (a, b) interval pair that overlaps on the same contig. The naive
    * plan is a contig-keyed join with a range predicate — contigs are
    * LOW-cardinality, so that join funnels whole chromosomes through
    * single reducers; instead both sides explode to covering bins of
    * width w (q52's rewrite, here with the compound (contig, bin) key)
    * and a pair is counted EXACTLY once in the bin containing its
    * overlap start (max of the two starts — which lies in both
    * intervals, hence in both sides' bin cover), so no dedup pass is
    * needed. Shuffle is uniform in (contig, bin); fan-out is len/w + 1
    * per interval. The in-query require rejects a
    * BroadcastNestedLoopJoin plan (q52's discipline). */
  /** The shared exactly-once binned pair join of x28/x30: every
    * overlapping (a, b) pair on one contig, each seen EXACTLY once (in
    * the bin containing the overlap start), with both intervals'
    * coordinates carried through. */
  private def binnedOverlapPairs(a: DataFrame, b: DataFrame,
      binWidth: Int, bExtra: Seq[String] = Nil): DataFrame = {
    val w = binWidth.toLong
    def binned(df: DataFrame, p: String, extra: Seq[String]) = df.select(
        (Seq(col("contig"), col("start").as(s"${p}_start"),
          col("end").as(s"${p}_end")) ++ extra.map(col)): _*)
      .withColumn("bin", explode(sequence(
        expr(s"${p}_start div $w"), expr(s"(${p}_end - 1) div $w"))))
    val out = binned(a, "a", Nil).join(binned(b, "b", bExtra),
        Seq("contig", "bin"))
      .where(col("a_start") < col("b_end") &&
        col("b_start") < col("a_end"))
      .where(greatest(col("a_start"), col("b_start"))
        .between(col("bin") * w, (col("bin") + 1) * w - 1))
      .select((Seq(col("contig"), col("a_start"), col("a_end"),
        col("b_start"), col("b_end")) ++ bExtra.map(col)): _*)
    val bnl = out.queryExecution.sparkPlan.collect {
      case p if p.nodeName.contains("BroadcastNestedLoop") => p
    }
    require(bnl.isEmpty,
      "interval join: nested-loop planned — the bin rewrite must equi-join")
    out
  }

  def intervalIntersect(a: DataFrame, b: DataFrame,
      binWidth: Int): DataFrame =
    binnedOverlapPairs(a, b, binWidth)
      .select(col("contig"),
        greatest(col("a_start"), col("b_start")).as("start_pos"),
        least(col("a_end"), col("b_end")).as("end_pos"))

  /** Driver gate: distinct interval sets synthesized from lineitem on
    * two contigs; the oracle is the plain overlap join the binning
    * replaces, restated with GREATEST/LEAST. */
  def x28IntervalIntersect(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 14 === 9)
    val a = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 200) * 3 + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 20L).distinct()
    val b = li.select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_suppkey") * 7 % 200) * 3 + 2).cast("long").as("start"))
      .withColumn("end", col("start") + 15L).distinct()
    intervalIntersect(a, b, 64).orderBy("contig", "start_pos", "end_pos")
  }

  val x28Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 14 = 9),
      |a AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 200) * 3 + 1 AS st, (l_partkey % 200) * 3 + 21 AS en
      |  FROM li),
      |b AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_suppkey * 7 % 200) * 3 + 2 AS st, (l_suppkey * 7 % 200) * 3 + 17 AS en
      |  FROM li),
      |x AS (SELECT a.contig, GREATEST(a.st, b.st) AS start_pos,
      |    LEAST(a.en, b.en) AS end_pos
      |  FROM a JOIN b ON a.contig = b.contig
      |    AND a.st < b.en AND b.st < a.en)
      |SELECT contig, CAST(start_pos AS BIGINT) AS start_pos,
      |  CAST(end_pos AS BIGINT) AS end_pos
      |FROM x ORDER BY contig, start_pos, end_pos""".stripMargin

  // ---------------------------------------------------------------- x29
  /** INTERVAL MERGE (`bedtools merge`) — collapse any overlapping or
    * touching intervals per contig into their maximal disjoint union,
    * the normalization every region file goes through before set
    * arithmetic. On the same sweep as x18, one observation sharper:
    * merged intervals are exactly the runs where coverage LEAVES and
    * RETURNS to zero, so only the zero-transition boundaries matter —
    * a START is a boundary with prior depth 0 (prior = depth − delta,
    * no extra window), an END is a boundary reaching depth 0, starts
    * and ends strictly alternate per contig, and the next transition
    * row's position pairs each start with its end. Both passes — the
    * running sum and the start→end chaining — ride the two-level
    * bucketed shape ([[boundaryPrefixScan]] then [[twoLevelNextPos]]
    * over the transition rows, themselves already condensed to
    * 2·merged-intervals per contig), so neither a boundary-dense nor a
    * fragmented monster contig funnels through one reducer.
    *
    * Touching intervals ([a,b) + [b,c)) merge because the +1/−1 deltas
    * at b cancel to a net-zero boundary that the `delta ≠ 0` filter
    * removes before the transition scan — the same filter x18 uses for
    * maximality. */
  def intervalMerge(intervals: DataFrame,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val trans = boundaryPrefixScan(boundaryDeltas(intervals), bucketWidth)
      .withColumn("prior", col("depth") - col("delta"))
      .where(col("depth") === 0 || col("prior") === 0)
      .select(col("contig"), col("pos"), col("depth"), col("prior"))
    twoLevelNextPos(trans, bucketWidth)
      .where(col("prior") === 0 && col("depth") > 0)
      .select(col("contig"), col("pos").as("start_pos"),
        col("next_pos").as("end_pos"))
  }

  /** Driver gate: mixed short/long spans force genuine merging; the
    * oracle is per-base union + gaps-and-islands. */
  def x29IntervalMerge(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 14 === 3)
    // spacing 20 vs lengths 5-35: chains of overlapping intervals broken
    // by genuine gaps, so the merged output has real island structure
    // (dense starts would collapse each contig to one run — a vacuous
    // merge)
    val ivs = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 300) * 20 + 1).cast("long").as("start"),
        (col("l_linenumber") % 3 * 15 + 5).cast("long").as("len"))
      .withColumn("end", col("start") + col("len"))
      .drop("len")
    val r = intervalMerge(ivs, bucketWidth = 512L)
      .orderBy("contig", "start_pos")
    requireBucketedSweep(r, "x29")
    r
  }

  val x29Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig, (l_partkey % 300) * 20 + 1 AS st,
      |    (l_linenumber % 3) * 15 + 5 AS len
      |  FROM lineitem WHERE l_orderkey % 14 = 3),
      |p AS (SELECT DISTINCT contig,
      |    unnest(generate_series(st, st + len - 1)) AS pos FROM r),
      |g AS (SELECT contig, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY contig ORDER BY pos) AS grp
      |  FROM p)
      |SELECT contig, CAST(MIN(pos) AS BIGINT) AS start_pos,
      |  CAST(MAX(pos) + 1 AS BIGINT) AS end_pos
      |FROM g GROUP BY contig, grp ORDER BY contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x30
  /** INTERVAL SUBTRACTION (`bedtools subtract`) — A minus the union of
    * B: each a-interval's surviving sub-segments after removing every
    * b-covered region, completing the region-arithmetic trio with x28
    * (intersect) and x29 (merge). Three reused shapes, no new ones: B
    * first NORMALIZES through [[intervalMerge]] (disjoint segments, so
    * downstream needs no overlap resolution), pairs come from the
    * exactly-once binned join, and the per-a gap computation is pure
    * array algebra — the clipped overlap segments sort per a-interval,
    * and the survivors are the alternating gaps `(a_start, o₁s), (o₁e,
    * o₂s), …, (oₖe, a_end)` built by one zip_with over shifted bound
    * arrays (t20's slice lesson: every intermediate an attribute or
    * per-element scalar, nothing an optimizer inline can re-expand).
    * a-intervals untouched by B pass through whole via the left join.
    *
    * Scale shape: x29's sweep + x28's uniform (contig, bin) shuffle +
    * one groupBy keyed by the a-interval identity (bounded fan-in: the
    * disjoint b-segments overlapping one a are at most len(a)/2 + 1). */
  def intervalSubtract(a: DataFrame, b: DataFrame,
      binWidth: Int, bucketWidth: Long = 1L << 20): DataFrame = {
    // A-side identities must be unique: the gap algebra groups by
    // (contig, a_start, a_end), so a duplicate a-row would gather each
    // overlap segment once PER DUPLICATE and corrupt the zip. Dedup here
    // rather than documenting a precondition — the distinct shares its
    // hash keys with the groupBy/join that follow, and the output is
    // per distinct interval identity (bedtools semantics on a
    // duplicate-free BED, the only case where per-line and per-identity
    // agree anyway).
    val ad = a.select(col("contig"), col("start"), col("end")).distinct()
    val bm = intervalMerge(b, bucketWidth).select(col("contig"),
      col("start_pos").as("start"), col("end_pos").as("end"))
    val pairs = binnedOverlapPairs(ad, bm, binWidth)
      .select(col("contig"), col("a_start"), col("a_end"),
        greatest(col("a_start"), col("b_start")).as("os"),
        least(col("a_end"), col("b_end")).as("oe"))
    val grouped = pairs.groupBy(col("contig"), col("a_start"), col("a_end"))
      .agg(sort_array(collect_list(struct(col("os"), col("oe")))).as("ovs"))
    ad.select(col("contig"), col("start").as("a_start"),
        col("end").as("a_end"))
      .join(grouped, Seq("contig", "a_start", "a_end"), "left")
      .withColumn("ovs", coalesce(col("ovs"),
        array().cast("array<struct<os:bigint,oe:bigint>>")))
      .withColumn("gap_starts",
        concat(array(col("a_start")), transform(col("ovs"), o => o.getField("oe"))))
      .withColumn("gap_ends",
        concat(transform(col("ovs"), o => o.getField("os")), array(col("a_end"))))
      .select(col("contig"), col("a_start"), col("a_end"),
        explode(filter(
          zip_with(col("gap_starts"), col("gap_ends"),
            (gs, ge) => struct(gs.as("gs"), ge.as("ge"))),
          g => g.getField("ge") > g.getField("gs"))).as("g"))
      .select(col("contig"), col("a_start"), col("a_end"),
        col("g.gs").as("start_pos"), col("g.ge").as("end_pos"))
  }

  /** Driver gate: a-intervals spaced 15 with span 20, b-intervals
    * sparse with span 10 — survivors mix whole pass-throughs, head/tail
    * clips, and mid-splits. Oracle is the per-base anti-join + islands
    * per a-interval. */
  def x30IntervalSubtract(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 14 === 11)
    val a = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 200) * 15 + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 20L).distinct()
    val b = li.where(col("l_linenumber") % 2 === 0).select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_suppkey") * 11 % 150) * 17 + 5).cast("long").as("start"))
      .withColumn("end", col("start") + 10L).distinct()
    val r = intervalSubtract(a, b, 64, bucketWidth = 512L)
      .orderBy("contig", "a_start", "start_pos")
    requireBucketedSweep(r, "x30")
    r
  }

  val x30Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_orderkey % 14 = 11),
      |a AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 200) * 15 + 1 AS st, (l_partkey % 200) * 15 + 21 AS en
      |  FROM li),
      |b AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_suppkey * 11 % 150) * 17 + 5 AS st,
      |    (l_suppkey * 11 % 150) * 17 + 15 AS en
      |  FROM li WHERE l_linenumber % 2 = 0),
      |ap AS (SELECT contig, st, en,
      |    unnest(generate_series(st, en - 1)) AS pos FROM a),
      |bp AS (SELECT DISTINCT contig,
      |    unnest(generate_series(st, en - 1)) AS pos FROM b),
      |keep AS (SELECT ap.contig, ap.st, ap.en, ap.pos FROM ap
      |  LEFT JOIN bp ON ap.contig = bp.contig AND ap.pos = bp.pos
      |  WHERE bp.pos IS NULL),
      |g AS (SELECT contig, st, en, pos,
      |    pos - ROW_NUMBER() OVER (
      |      PARTITION BY contig, st, en ORDER BY pos) AS grp
      |  FROM keep)
      |SELECT contig, CAST(st AS BIGINT) AS a_start,
      |  CAST(en AS BIGINT) AS a_end,
      |  CAST(MIN(pos) AS BIGINT) AS start_pos,
      |  CAST(MAX(pos) + 1 AS BIGINT) AS end_pos
      |FROM g GROUP BY contig, st, en, grp
      |ORDER BY contig, a_start, start_pos""".stripMargin

  // ---------------------------------------------------------------- x31
  /** N50 assembly statistics — the sequence-length summary every
    * assembly/long-read QC reports (N50 = the largest length L such
    * that sequences of length ≥ L hold at least half the total bases).
    * The naive formulation sorts each sample's sequences descending and
    * runs a cumulative sum — a per-sample window over ALL sequences,
    * one reducer per sample at scale. This is the value-histogram
    * reformulation (q23/t09's technique): lengths collapse to a
    * (sample, len) histogram first (map-side combinable; bounded by the
    * length DOMAIN, not the sequence count), the cumulative runs over
    * histogram rows, and N50 = max(len) where cum·2 ≥ total. Integer
    * arithmetic end-to-end. */
  def n50Stats(seqs: DataFrame): DataFrame = {
    val hist = seqs.groupBy(col("sample"), col("len"))
      .agg(count(lit(1)).as("n"))
    val tot = hist.groupBy(col("sample"))
      .agg(sum(col("len") * col("n")).as("total_len"),
        sum(col("n")).as("n_seqs"))
    val w = Window.partitionBy(col("sample")).orderBy(col("len").desc)
    hist
      .withColumn("cum", sum(col("len") * col("n")).over(w))
      .join(tot, Seq("sample"))
      .where(col("cum") * 2 >= col("total_len"))
      .groupBy(col("sample"), col("n_seqs"), col("total_len"))
      .agg(max(col("len")).as("n50"))
      .select(col("sample"), col("n_seqs"), col("total_len"), col("n50"))
      .orderBy("sample")
  }

  def x31N50(s: SparkSession, d: String): DataFrame = {
    val seqs = Tables.lineitem(s, d).where(col("l_orderkey") % 15 === 8)
      .select((col("l_orderkey") % 20).cast("long").as("sample"),
        ((col("l_partkey") % 97) + 3).cast("long").as("len"))
    val r = n50Stats(seqs)
    requireKeyedWindows(r, "x31")
    r
  }

  val x31Sql: String =
    """WITH r AS (
      |  SELECT CAST(l_orderkey % 20 AS BIGINT) AS sample,
      |    CAST((l_partkey % 97) + 3 AS BIGINT) AS len
      |  FROM lineitem WHERE l_orderkey % 15 = 8),
      |h AS (SELECT sample, len, COUNT(*) AS n FROM r GROUP BY 1, 2),
      |t AS (SELECT sample, SUM(len * n) AS total_len, SUM(n) AS n_seqs
      |  FROM h GROUP BY 1),
      |c AS (SELECT h.sample, h.len, t.total_len, t.n_seqs,
      |    SUM(h.len * h.n) OVER (
      |      PARTITION BY h.sample ORDER BY h.len DESC) AS cum
      |  FROM h JOIN t USING (sample))
      |SELECT sample, CAST(n_seqs AS BIGINT) AS n_seqs,
      |  CAST(total_len AS BIGINT) AS total_len,
      |  CAST(MAX(len) AS BIGINT) AS n50
      |FROM c WHERE cum * 2 >= total_len
      |GROUP BY sample, n_seqs, total_len ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x32
  /** CLOSEST INTERVAL (`bedtools closest`), radius-bounded — for each
    * a-interval the nearest b-interval on its contig (distance 0 when
    * overlapping, else the gap between facing ends), ties totalized by
    * (distance, b_start, b_end). The naive per-contig sort-merge is a
    * low-cardinality-keyed window (whole chromosomes through one
    * reducer); instead a's bin cover is WIDENED by the search radius so
    * every b within distance R shares a (contig, bin) key with it —
    * the uniform-shuffle candidates join — and the per-a argmin is a
    * lexicographic `min(struct(distance, b_start, b_end))` aggregate
    * (map-side combinable; duplicate candidates from multi-bin overlap
    * are harmless under min, so this join needs NO exactly-once trick).
    * a-intervals with no b within R are omitted — the bounded-radius
    * semantics; unbounded closest = radius doubling over the same
    * kernel, a driver loop over exchanges of shrinking survivors. */
  def closestIntervals(a: DataFrame, b: DataFrame, radius: Long,
      binWidth: Int): DataFrame = {
    val w = binWidth.toLong
    val ba = a.select(col("contig"), col("start").as("a_start"),
        col("end").as("a_end"))
      // cover widened by R, each edge padded one extra unit: the filter
      // admits d == R, and a b whose facing end sits EXACTLY R away can
      // land on a bin boundary — b_start = a_end + R starts bin
      // (a_end+R) div w, one past the unpadded (a_end+R-1) div w (and
      // symmetrically b_end = a_start - R ends in bin (a_start-R-1) div
      // w). The padded cover is a superset — spurious candidates are
      // culled by the d <= R filter, never the reverse. Negative bins
      // from the left pad are harmless for non-negative coordinates (no
      // b ever maps there).
      .withColumn("bin", explode(sequence(
        expr(s"(a_start - $radius - 1) div $w"),
        expr(s"(a_end + $radius) div $w"))))
    val bb = b.select(col("contig"), col("start").as("b_start"),
        col("end").as("b_end"))
      .withColumn("bin", explode(sequence(
        expr(s"b_start div $w"), expr(s"(b_end - 1) div $w"))))
    val d = greatest(lit(0L),
      greatest(col("a_start") - col("b_end"),
        col("b_start") - col("a_end")))
    ba.join(bb, Seq("contig", "bin"))
      .withColumn("d", d)
      .where(col("d") <= radius)
      .groupBy(col("contig"), col("a_start"), col("a_end"))
      .agg(min(struct(col("d"), col("b_start"), col("b_end"))).as("best"))
      .select(col("contig"), col("a_start"), col("a_end"),
        col("best.d").as("distance"),
        col("best.b_start").as("b_start"),
        col("best.b_end").as("b_end"))
  }

  /** Driver gate: dense a-intervals vs sparse b-intervals — the output
    * mixes overlap hits (distance 0) and genuine gap distances, with
    * some a's beyond the radius (omitted). Oracle is the plain
    * per-contig join + ROW_NUMBER argmin the binning replaces. */
  def x32ClosestInterval(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 15 === 4)
    val a = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 250) * 13 + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L).distinct()
    val b = li.where(col("l_linenumber") % 3 === 0).select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_suppkey") * 13 % 120) * 29 + 4).cast("long").as("start"))
      .withColumn("end", col("start") + 8L).distinct()
    closestIntervals(a, b, radius = 64L, binWidth = 64)
      .orderBy("contig", "a_start")
  }

  val x32Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_orderkey % 15 = 4),
      |a AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 250) * 13 + 1 AS st, (l_partkey % 250) * 13 + 11 AS en
      |  FROM li),
      |b AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_suppkey * 13 % 120) * 29 + 4 AS st,
      |    (l_suppkey * 13 % 120) * 29 + 12 AS en
      |  FROM li WHERE l_linenumber % 3 = 0),
      |cand AS (SELECT a.contig, a.st AS a_start, a.en AS a_end,
      |    b.st AS b_start, b.en AS b_end,
      |    GREATEST(0, GREATEST(a.st - b.en, b.st - a.en)) AS d
      |  FROM a JOIN b ON a.contig = b.contig),
      |rk AS (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY contig, a_start, a_end
      |    ORDER BY d, b_start, b_end) AS r
      |  FROM cand WHERE d <= 64)
      |SELECT contig, CAST(a_start AS BIGINT) AS a_start,
      |  CAST(a_end AS BIGINT) AS a_end, CAST(d AS BIGINT) AS distance,
      |  CAST(b_start AS BIGINT) AS b_start, CAST(b_end AS BIGINT) AS b_end
      |FROM rk WHERE r = 1 ORDER BY contig, a_start""".stripMargin

  // ---------------------------------------------------------------- x33
  /** PER-TARGET COVERAGE at depth ≥ K — the hybrid-capture QC metric
    * (Picard HsMetrics' PCT_TARGET_BASES_≥X): for every target interval,
    * the fraction of its bases covered by at least K reads. Pure
    * composition of shipped kernels: [[coverageIntervals]] (the sweep)
    * filtered to depth ≥ K yields DISJOINT qualifying segments, the
    * exactly-once binned pair join intersects them with targets, and
    * because the segments are disjoint the per-target covered mass is a
    * plain sum — no merge pass, no double counting. Targets untouched
    * by coverage come back through the left join at 0. Integer-exact
    * permille.
    *
    * Scale shape: the sweep's 2-rows-per-read shuffle + per-contig
    * window, one uniform (contig, bin) exchange, one target-keyed agg. */
  def targetCoverage(reads: DataFrame, targets: DataFrame, minDepth: Long,
      binWidth: Int, bucketWidth: Long = 1L << 20): DataFrame = {
    // Target identities dedup for the same reason as intervalSubtract's
    // a-side: the per-target sum groups by (contig, start, end), and a
    // duplicate target row would double-count covered mass (pct_milli
    // beyond 1000). Output is per distinct target identity.
    val td = targets.select(col("contig"), col("start"), col("end"))
      .distinct()
    val cov = coverageIntervals(reads, bucketWidth)
      .where(col("depth") >= minDepth)
      .select(col("contig"), col("start_pos").as("start"),
        col("end_pos").as("end"))
    val covered = binnedOverlapPairs(td, cov, binWidth)
      .select(col("contig"), col("a_start"), col("a_end"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("mass"))
      .groupBy(col("contig"), col("a_start"), col("a_end"))
      .agg(sum(col("mass")).as("covered"))
    td.select(col("contig"), col("start").as("a_start"),
        col("end").as("a_end"))
      .join(covered, Seq("contig", "a_start", "a_end"), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .withColumn("pct_milli",
        expr("(1000 * covered) div (a_end - a_start)"))
      .select(col("contig"), col("a_start").as("start_pos"),
        col("a_end").as("end_pos"), col("covered"), col("pct_milli"))
  }

  def x33TargetCoverage(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 16 === 7)
    val reads = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 350) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val targets = li.where(col("l_linenumber") % 2 === 1).select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_suppkey") * 3 % 60) * 25 + 2).cast("long").as("start"))
      .withColumn("end", col("start") + 30L).distinct()
    val r = targetCoverage(reads, targets, minDepth = 2L, binWidth = 64,
        bucketWidth = 512L)
      .orderBy("contig", "start_pos")
    requireBucketedSweep(r, "x33")
    r
  }

  /** Oracle replays per-base: target positions whose naive depth ≥ 2. */
  val x33Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_orderkey % 16 = 7),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 350) + 1 AS st
      |  FROM li),
      |t AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_suppkey * 3 % 60) * 25 + 2 AS st,
      |    (l_suppkey * 3 % 60) * 25 + 32 AS en
      |  FROM li WHERE l_linenumber % 2 = 1),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT contig, pos FROM p GROUP BY contig, pos
      |  HAVING COUNT(*) >= 2),
      |tp AS (SELECT t.contig, t.st, t.en, d.pos FROM t
      |  JOIN dep d ON t.contig = d.contig
      |    AND d.pos >= t.st AND d.pos < t.en),
      |cv AS (SELECT contig, st, en, COUNT(*) AS covered
      |  FROM tp GROUP BY 1, 2, 3)
      |SELECT t.contig, CAST(t.st AS BIGINT) AS start_pos,
      |  CAST(t.en AS BIGINT) AS end_pos,
      |  CAST(COALESCE(cv.covered, 0) AS BIGINT) AS covered,
      |  (1000 * CAST(COALESCE(cv.covered, 0) AS BIGINT))
      |    // CAST(t.en - t.st AS BIGINT) AS pct_milli
      |FROM t LEFT JOIN cv ON t.contig = cv.contig
      |  AND t.st = cv.st AND t.en = cv.en
      |ORDER BY t.contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x34
  /** UNBOUNDED CLOSEST INTERVAL — full `bedtools closest` semantics:
    * every a-interval whose contig carries at least one b-interval gets
    * its nearest b, however far (the r10 verdict's "missing" #2 — x32
    * shipped only the radius-bounded kernel and sketched this in its
    * scaladoc). RADIUS DOUBLING over that same kernel: start at a small
    * radius, keep the a's that matched (a bounded-radius hit IS the
    * global argmin — any b within r bounds the true closest inside r,
    * and every b within r is a candidate), anti-join the survivors, and
    * retry them at 4× the radius. Two scale guards make each round
    * linear: the bin width GROWS with the radius (max(binWidth, r/8),
    * so the widened cover stays O(1) bins per interval instead of r/w
    * exploded rows), and the candidate join runs over the shrinking
    * survivor set only. a-contigs with no b are excluded up front by a
    * semi-join, which is what makes the loop terminate: once r clears
    * the coordinate span every survivor matches. O(log span) driver
    * iterations, each one uniform-shuffle exchanges — the per-iteration
    * `isEmpty` probe is a driver-sized action, not a collect of data. */
  def closestUnbounded(a: DataFrame, b: DataFrame, binWidth: Int,
      initRadius: Long = 1024L): DataFrame = {
    val ab = a.select(col("contig"), col("start"), col("end"))
      .join(b.select(col("contig")).distinct(), Seq("contig"), "left_semi")
    val span = (a.agg(max(col("end")).as("m")) unionByName
        b.agg(max(col("end")).as("m")))
      .agg(max(col("m"))).head.getLong(0)
    var remaining = ab
    var r = math.max(1L, initRadius)
    var acc = List.empty[DataFrame]
    var done = remaining.isEmpty
    while (!done) {
      val w = math.min(Int.MaxValue.toLong, math.max(binWidth.toLong, r / 8))
      val hit = closestIntervals(remaining, b, r, w.toInt)
      acc ::= hit
      remaining = remaining.join(
        hit.select(col("contig"), col("a_start").as("start"),
          col("a_end").as("end")),
        Seq("contig", "start", "end"), "left_anti")
      done = r > span || remaining.isEmpty
      r *= 4
    }
    acc.reduce(_ unionByName _)
  }

  /** Driver gate: x32's fixture with a deliberately tiny initial radius
    * (8) so the doubling genuinely iterates — the gate data's gap
    * distances span 0 to several hundred — and, unlike x32, NO a-row
    * with a b on its contig is omitted. Oracle is the plain per-contig
    * join + ROW_NUMBER argmin with no radius cut. */
  def x34ClosestUnbounded(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 15 === 4)
    val a = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 250) * 13 + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L).distinct()
    val b = li.where(col("l_linenumber") % 3 === 0).select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_suppkey") * 13 % 120) * 29 + 4).cast("long").as("start"))
      .withColumn("end", col("start") + 8L).distinct()
    closestUnbounded(a, b, binWidth = 64, initRadius = 8L)
      .orderBy("contig", "a_start")
  }

  val x34Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey, l_linenumber FROM lineitem
      |  WHERE l_orderkey % 15 = 4),
      |a AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 250) * 13 + 1 AS st, (l_partkey % 250) * 13 + 11 AS en
      |  FROM li),
      |b AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_suppkey * 13 % 120) * 29 + 4 AS st,
      |    (l_suppkey * 13 % 120) * 29 + 12 AS en
      |  FROM li WHERE l_linenumber % 3 = 0),
      |cand AS (SELECT a.contig, a.st AS a_start, a.en AS a_end,
      |    b.st AS b_start, b.en AS b_end,
      |    GREATEST(0, GREATEST(a.st - b.en, b.st - a.en)) AS d
      |  FROM a JOIN b ON a.contig = b.contig),
      |rk AS (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY contig, a_start, a_end
      |    ORDER BY d, b_start, b_end) AS r
      |  FROM cand)
      |SELECT contig, CAST(a_start AS BIGINT) AS a_start,
      |  CAST(a_end AS BIGINT) AS a_end, CAST(d AS BIGINT) AS distance,
      |  CAST(b_start AS BIGINT) AS b_start, CAST(b_end AS BIGINT) AS b_end
      |FROM rk WHERE r = 1 ORDER BY contig, a_start""".stripMargin

  // ---------------------------------------------------------------- x35
  /** MULTI-SAMPLE GENOTYPE ROUNDTRIP gate — pins
    * [[graft.sources.VcfWriter.writeGenotypes]] /
    * [[graft.sources.VcfWriter.readGenotypes]] (FORMAT/GT:DP per-sample
    * columns, the r10 verdict's "missing" #3): a 3-sample cohort of
    * deterministic genotypes synthesized from lineitem writes to a
    * coordinate-sorted multi-sample VCF, reads back through the
    * FORMAT-keyed long-form scanner, and summarizes per sample (site
    * count, het/hom-alt/missing tallies, depth mass). The oracle
    * restates the same integer arithmetic straight from lineitem —
    * a hash match proves write render, sort, header sample order, and
    * FORMAT-map parse all preserved every field. */
  def x35GenotypeGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HadoopIO, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
      .withColumn("ref", lit("A")).withColumn("alt", lit("T"))
    val samples = Seq("s0", "s1", "s2")
    val dim = s.createDataFrame(samples.zipWithIndex.map {
      case (n, i) => (n, i.toLong) }).toDF("sample", "sj")
    val gt = sites.crossJoin(broadcast(dim))
      .withColumn("g", (col("pos") * 7 + col("sj") * 3) % 4)
      .withColumn("gt",
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./."))
      .withColumn("dp", (col("pos") + col("sj") * 13) % 50 + 10)
      .select(col("contig"), col("pos"), col("ref"), col("alt"),
        col("sample"), col("gt"), col("dp"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x35_$sfTag.vcf"
    VcfWriter.writeGenotypes(gt,
      Seq("chrM" -> 16569, "chr1" -> 200000), samples, out)
    VcfWriter.readGenotypes(s, out, strict = true)
      .groupBy(col("sample"))
      .agg(count(lit(1)).as("n_sites"),
        sum((col("gt") === "0/1").cast("long")).as("n_het"),
        sum((col("gt") === "1/1").cast("long")).as("n_hom_alt"),
        sum((col("gt") === "./.").cast("long")).as("n_missing"),
        sum(col("dp")).as("sum_dp"))
      .orderBy("sample")
  }

  val x35Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos, sm.sj,
      |    (s.pos * 7 + sm.sj * 3) % 4 AS gc,
      |    (s.pos + sm.sj * 13) % 50 + 10 AS dp
      |  FROM sites s CROSS JOIN sm)
      |SELECT 's' || sj AS sample, CAST(COUNT(*) AS BIGINT) AS n_sites,
      |  CAST(SUM(CASE WHEN gc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
      |  CAST(SUM(CASE WHEN gc = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hom_alt,
      |  CAST(SUM(CASE WHEN gc = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_missing,
      |  CAST(SUM(dp) AS BIGINT) AS sum_dp
      |FROM g GROUP BY sample ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x36
  /** GENOTYPE CONCORDANCE between two callsets (Picard
    * GenotypeConcordance / `bcftools stats` shape) — the QC every
    * caller-migration and joint-calling pipeline runs: align two long
    * genotype frames on (contig, pos, sample) and tally, per sample,
    * sites where both call and agree, both call and disagree, or only
    * one side calls (an explicit `./.` counts as uncalled, same as an
    * absent row). One uniform full-outer equi-join on the compound
    * site-sample key — high-cardinality, skew-free — then a per-sample
    * map-side-combinable aggregate; nothing contig-keyed, nothing
    * windowed. */
  def genotypeConcordance(a: DataFrame, b: DataFrame): DataFrame = {
    def called(c: org.apache.spark.sql.Column) =
      c.isNotNull && c =!= "./."
    val ga = a.select(col("contig"), col("pos"), col("sample"),
      col("gt").as("gt_a"))
    val gb = b.select(col("contig"), col("pos"), col("sample"),
      col("gt").as("gt_b"))
    ga.join(gb, Seq("contig", "pos", "sample"), "full_outer")
      .select(col("sample"),
        called(col("gt_a")).as("ca"), called(col("gt_b")).as("cb"),
        (col("gt_a") === col("gt_b")).as("eq"))
      .groupBy(col("sample"))
      .agg(
        sum((col("ca") && col("cb") && col("eq")).cast("long"))
          .as("n_concordant"),
        sum((col("ca") && col("cb") && !col("eq")).cast("long"))
          .as("n_discordant"),
        sum((col("ca") && !col("cb")).cast("long")).as("n_only_a"),
        sum((!col("ca") && col("cb")).cast("long")).as("n_only_b"))
      .orderBy("sample")
  }

  /** Driver gate: callset A is x35's deterministic cohort; callset B
    * perturbs every 11th position's genotype code and covers a
    * different site subset (A skips pos≡0 mod 5, B skips pos≡0 mod 7),
    * so all four tally classes are populated. */
  def x36GenotypeConcordance(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(("s0", 0L), ("s1", 1L), ("s2", 2L)))
      .toDF("sample", "sj")
    def gtOf(g: org.apache.spark.sql.Column) =
      when(g === 0, "0/0").when(g === 1, "0/1")
        .when(g === 2, "1/1").otherwise("./.")
    val base = sites.crossJoin(broadcast(dim))
    val a = base.where(col("pos") % 5 =!= 0)
      .select(col("contig"), col("pos"), col("sample"),
        gtOf((col("pos") * 7 + col("sj") * 3) % 4).as("gt"))
    val b = base.where(col("pos") % 7 =!= 0)
      .select(col("contig"), col("pos"), col("sample"),
        gtOf((col("pos") * 7 + col("sj") * 3 +
          when(col("pos") % 11 === 0, 1L).otherwise(0L)) % 4).as("gt"))
    genotypeConcordance(a, b)
  }

  val x36Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(sj)),
      |base AS (SELECT s.contig, s.pos, sm.sj FROM sites s CROSS JOIN sm),
      |a AS (SELECT contig, pos, sj, (pos * 7 + sj * 3) % 4 AS g
      |  FROM base WHERE pos % 5 <> 0),
      |b AS (SELECT contig, pos, sj,
      |    (pos * 7 + sj * 3 + CASE WHEN pos % 11 = 0 THEN 1 ELSE 0 END) % 4
      |      AS g
      |  FROM base WHERE pos % 7 <> 0),
      |j AS (SELECT COALESCE(a.sj, b.sj) AS sj,
      |    a.g IS NOT NULL AND a.g < 3 AS ca,
      |    b.g IS NOT NULL AND b.g < 3 AS cb,
      |    a.g = b.g AS eq
      |  FROM a FULL OUTER JOIN b
      |    ON a.contig = b.contig AND a.pos = b.pos AND a.sj = b.sj)
      |SELECT 's' || sj AS sample,
      |  CAST(SUM(CASE WHEN ca AND cb AND eq THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_concordant,
      |  CAST(SUM(CASE WHEN ca AND cb AND NOT eq THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_discordant,
      |  CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_only_a,
      |  CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_only_b
      |FROM j GROUP BY sample ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x37
  /** MENDELIAN VIOLATION tally (GATK VariantEval MendelianViolation /
    * `bcftools +mendelian`) — trio QC at biallelic sites: a child
    * genotype is a violation when no (paternal allele, maternal allele)
    * pair can produce it. With dosages c/f/m ∈ {0,1,2}, the possible
    * allele contribution of a parent with dosage d is the interval
    * [d div 2, (d+1) div 2], so the achievable child dosages form the
    * interval sum and violation ⇔ c < f div 2 + m div 2 ∨
    * c > (f+1) div 2 + (m+1) div 2 — pure integer arithmetic, no
    * branching case table, oracle-restatable verbatim. The trio roster
    * is a driver-sized broadcast dim; genotypes join it and pivot to
    * one row per (trio, site) via a site-trio-keyed aggregate (three
    * conditional maxes, map-side combinable — NOT three self-joins),
    * then tally per child. Sites where any member is uncalled are
    * counted separately, not as violations. */
  def mendelianViolations(gt: DataFrame, trios: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    val roster = trios.select(col("child"),
      explode(array(
        struct(col("child").as("sample"), lit("c").as("role")),
        struct(col("father").as("sample"), lit("f").as("role")),
        struct(col("mother").as("sample"), lit("m").as("role")))).as("r"))
      .select(col("child"), col("r.sample").as("sample"),
        col("r.role").as("role"))
    val per = gt.select(col("contig"), col("pos"), col("sample"),
        dose.as("d"))
      .join(broadcast(roster), Seq("sample"))
      .groupBy(col("child"), col("contig"), col("pos"))
      .agg(max(when(col("role") === "c", col("d"))).as("dc"),
        max(when(col("role") === "f", col("d"))).as("df"),
        max(when(col("role") === "m", col("d"))).as("dm"))
    per.select(col("child"),
        (col("dc").isNotNull && col("df").isNotNull &&
          col("dm").isNotNull).as("complete"),
        (col("dc") < expr("df div 2 + dm div 2") ||
          col("dc") > expr("(df + 1) div 2 + (dm + 1) div 2"))
          .as("viol"))
      .groupBy(col("child"))
      .agg(sum(col("complete").cast("long")).as("n_complete"),
        sum((col("complete") && col("viol")).cast("long"))
          .as("n_violations"))
      .orderBy("child")
  }

  /** Driver gate: two families over the x35 site grid; member dosages
    * are distinct affine functions of pos so all of consistent,
    * violating, and incomplete (planted `./.`) sites occur. */
  def x37MendelianViolations(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val members = s.createDataFrame(Seq(
      ("fam0_c", 0L, 0L), ("fam0_f", 0L, 1L), ("fam0_m", 0L, 2L),
      ("fam1_c", 1L, 0L), ("fam1_f", 1L, 1L), ("fam1_m", 1L, 2L)))
      .toDF("sample", "fam", "rord")
    val gt = sites.crossJoin(broadcast(members))
      .withColumn("g",
        (col("pos") * (col("fam") + 2) + col("rord") * (col("pos") % 5 + 1))
          % 3)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("pos") % 13 === 0 && col("rord") === 1, "./.")
          .when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .otherwise("1/1").as("gt"))
    val trios = s.createDataFrame(Seq(
      ("fam0_c", "fam0_f", "fam0_m"), ("fam1_c", "fam1_f", "fam1_m")))
      .toDF("child", "father", "mother")
    mendelianViolations(gt, trios)
  }

  val x37Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |fam AS (SELECT * FROM (VALUES (0), (1)) AS t(f)),
      |g AS (SELECT s.contig, s.pos, fam.f,
      |    CASE WHEN s.pos % 13 = 0 THEN NULL
      |      ELSE (s.pos * (fam.f + 2) + 1 * (s.pos % 5 + 1)) % 3 END AS df,
      |    (s.pos * (fam.f + 2) + 0 * (s.pos % 5 + 1)) % 3 AS dc,
      |    (s.pos * (fam.f + 2) + 2 * (s.pos % 5 + 1)) % 3 AS dm
      |  FROM sites s CROSS JOIN fam),
      |cls AS (SELECT f,
      |    df IS NOT NULL AS complete,
      |    dc < (df // 2 + dm // 2)
      |      OR dc > ((df + 1) // 2 + (dm + 1) // 2) AS viol
      |  FROM g)
      |SELECT 'fam' || f || '_c' AS child,
      |  CAST(SUM(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_complete,
      |  CAST(SUM(CASE WHEN complete AND viol THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violations
      |FROM cls GROUP BY child ORDER BY child""".stripMargin

  // ---------------------------------------------------------------- x38
  /** ALLELE FREQUENCY SPECTRUM — the site-frequency histogram
    * population genetics reads first (`vcftools --freq` collapsed to
    * the SFS): per site, AC = Σ dosages and AN = 2·called-samples over
    * the cohort; the spectrum counts sites per (ac, an) cell. Two
    * map-side-combinable aggregates — site-keyed then cell-keyed — on
    * uniform high-cardinality keys; output bounded by (2·cohort+1)²
    * cells, not by sites. Uncalled (`./.`/absent) genotypes reduce AN
    * rather than polluting AC. */
  def alleleFrequencySpectrum(gt: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    gt.select(col("contig"), col("pos"), dose.as("d"))
      .groupBy(col("contig"), col("pos"))
      .agg(sum(col("d")).as("ac"),
        (count(col("d")) * 2).as("an"))
      .groupBy(col("ac"), col("an"))
      .agg(count(lit(1)).as("n_sites"))
      .orderBy("an", "ac")
  }

  /** Driver gate: x35's 3-sample cohort (g=3 yields `./.`, exercising
    * the AN reduction). */
  def x38AlleleSpectrum(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(("s0", 0L), ("s1", 1L), ("s2", 2L)))
      .toDF("sample", "sj")
    val gt = sites.crossJoin(broadcast(dim))
      .withColumn("g", (col("pos") * 7 + col("sj") * 3) % 4)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./.").as("gt"))
    alleleFrequencySpectrum(gt)
  }

  val x38Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos,
      |    CASE WHEN (s.pos * 7 + sm.sj * 3) % 4 = 3 THEN NULL
      |      ELSE (s.pos * 7 + sm.sj * 3) % 4 END AS d
      |  FROM sites s CROSS JOIN sm),
      |site AS (SELECT contig, pos, SUM(d) AS ac, COUNT(d) * 2 AS an
      |  FROM g GROUP BY 1, 2)
      |SELECT CAST(ac AS BIGINT) AS ac, CAST(an AS BIGINT) AS an,
      |  CAST(COUNT(*) AS BIGINT) AS n_sites
      |FROM site GROUP BY ac, an ORDER BY an, ac""".stripMargin

  // ---------------------------------------------------------------- x39
  /** VARIANT QC SUMMARY (`bcftools stats` core / Picard
    * CollectVariantCallingMetrics) — per-contig class tallies over a
    * site frame (contig, ref, alt): SNP/insertion/deletion counts and
    * the transition/transversion ratio, the first sanity figure a
    * variant callset is judged by (genome-wide Ts/Tv ≈ 2 for true
    * positives; random errors pull it toward 0.5). Ts = the two
    * purine↔purine / pyrimidine↔pyrimidine swaps (A↔G, C↔T); ratio as
    * integer permille (null when tv = 0 — a ratio with a zero
    * denominator is absent, not infinity). One narrow scan of three
    * small columns → one contig-keyed map-side-combinable aggregate;
    * nothing else. */
  def variantQc(variants: DataFrame): DataFrame = {
    val isSnp = length(col("ref")) === 1 && length(col("alt")) === 1
    val ts = isSnp && ((col("ref") === "A" && col("alt") === "G") ||
      (col("ref") === "G" && col("alt") === "A") ||
      (col("ref") === "C" && col("alt") === "T") ||
      (col("ref") === "T" && col("alt") === "C"))
    variants.groupBy(col("contig"))
      .agg(count(lit(1)).as("n_variants"),
        sum(isSnp.cast("long")).as("n_snp"),
        sum((length(col("alt")) > length(col("ref"))).cast("long"))
          .as("n_ins"),
        sum((length(col("alt")) < length(col("ref"))).cast("long"))
          .as("n_del"),
        sum(ts.cast("long")).as("n_ts"),
        sum((isSnp && !ts).cast("long")).as("n_tv"))
      .withColumn("tstv_milli",
        expr("CASE WHEN n_tv = 0 THEN NULL ELSE (1000 * n_ts) div n_tv END"))
      .orderBy("contig")
  }

  /** Driver gate: deterministic ref/alt synthesis mixing SNPs (all 12
    * ordered base pairs via the rotating offset), insertions (pos ≡ 0
    * mod 11), and deletions (pos ≡ 0 mod 13, minus the 11-overlap). */
  def x39VariantQc(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 18 === 7)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 500) * 2 + 1).cast("long").as("pos"))
      .distinct()
      .withColumn("r0", expr("substring('ACGT', CAST(pos % 4 AS INT) + 1, 1)"))
      .withColumn("a0", expr(
        "substring('ACGT', CAST((pos % 4 + pos % 3 + 1) % 4 AS INT) + 1, 1)"))
    sites.select(col("contig"),
        when(col("pos") % 11 === 0, col("r0"))
          .when(col("pos") % 13 === 0, concat(col("r0"), col("a0")))
          .otherwise(col("r0")).as("ref"),
        when(col("pos") % 11 === 0, concat(col("r0"), col("a0")))
          .when(col("pos") % 13 === 0, col("r0"))
          .otherwise(col("a0")).as("alt"))
      .transform(variantQc)
  }

  val x39Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 18 = 7),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 500) * 2 + 1 AS pos FROM li),
      |ra AS (SELECT contig, pos,
      |    substr('ACGT', CAST(pos % 4 AS INTEGER) + 1, 1) AS r0,
      |    substr('ACGT', CAST((pos % 4 + pos % 3 + 1) % 4 AS INTEGER) + 1, 1)
      |      AS a0
      |  FROM sites),
      |v AS (SELECT contig,
      |    CASE WHEN pos % 11 = 0 THEN r0
      |      WHEN pos % 13 = 0 THEN r0 || a0 ELSE r0 END AS ref,
      |    CASE WHEN pos % 11 = 0 THEN r0 || a0
      |      WHEN pos % 13 = 0 THEN r0 ELSE a0 END AS alt
      |  FROM ra),
      |cls AS (SELECT contig,
      |    len(ref) = 1 AND len(alt) = 1 AS is_snp,
      |    len(alt) > len(ref) AS is_ins, len(alt) < len(ref) AS is_del,
      |    len(ref) = 1 AND len(alt) = 1 AND
      |      ((ref = 'A' AND alt = 'G') OR (ref = 'G' AND alt = 'A') OR
      |       (ref = 'C' AND alt = 'T') OR (ref = 'T' AND alt = 'C'))
      |      AS is_ts
      |  FROM v),
      |agg AS (SELECT contig, CAST(COUNT(*) AS BIGINT) AS n_variants,
      |    CAST(SUM(CASE WHEN is_snp THEN 1 ELSE 0 END) AS BIGINT) AS n_snp,
      |    CAST(SUM(CASE WHEN is_ins THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
      |    CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
      |    CAST(SUM(CASE WHEN is_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
      |    CAST(SUM(CASE WHEN is_snp AND NOT is_ts THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_tv
      |  FROM cls GROUP BY contig)
      |SELECT contig, n_variants, n_snp, n_ins, n_del, n_ts, n_tv,
      |  CASE WHEN n_tv = 0 THEN NULL
      |    ELSE (1000 * n_ts) // n_tv END AS tstv_milli
      |FROM agg ORDER BY contig""".stripMargin

  // ---------------------------------------------------------------- x57
  /** PHASE BY TRANSMISSION (GATK PhaseByTransmission / WhatsHap
    * pedigree mode) — the deterministic half of haplotype phasing: at a
    * biallelic site with complete, Mendelian-consistent trio genotypes,
    * the child's paternal|maternal allele assignment is forced unless
    * all three members are heterozygous. Homozygous children phase
    * trivially (0|0, 1|1); a het child takes the allele a homozygous
    * parent MUST have transmitted (father hom-ref ⇒ 0|1; father hom-alt
    * ⇒ 1|0; both-parent-het-with-het-child is the one unphasable
    * configuration). Violations (x37's interval rule) and sites with
    * any uncalled member report their status instead of a phase —
    * downstream read-backed phasing (the probabilistic half) consumes
    * exactly this frame.
    *
    * Scale shape: identical to x37 — genotypes join the broadcast trio
    * roster, pivot to one row per (trio, site) via three conditional
    * maxes in ONE site-trio-keyed aggregate (map-side combinable), then
    * a pure per-row CASE projection. Output is per-site (the operator's
    * contract: a phased VCF column), no corpus-global structure. */
  def phaseByTransmission(gt: DataFrame, trios: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    val roster = trios.select(col("child"),
      explode(array(
        struct(col("child").as("sample"), lit("c").as("role")),
        struct(col("father").as("sample"), lit("f").as("role")),
        struct(col("mother").as("sample"), lit("m").as("role")))).as("r"))
      .select(col("child"), col("r.sample").as("sample"),
        col("r.role").as("role"))
    val per = gt.select(col("contig"), col("pos"), col("sample"),
        dose.as("d"))
      .join(broadcast(roster), Seq("sample"))
      .groupBy(col("child"), col("contig"), col("pos"))
      .agg(max(when(col("role") === "c", col("d"))).as("dc"),
        max(when(col("role") === "f", col("d"))).as("df"),
        max(when(col("role") === "m", col("d"))).as("dm"))
    val complete = col("dc").isNotNull && col("df").isNotNull &&
      col("dm").isNotNull
    val viol = col("dc") < expr("df div 2 + dm div 2") ||
      col("dc") > expr("(df + 1) div 2 + (dm + 1) div 2")
    per.select(col("child"), col("contig"), col("pos"), col("dc"),
        when(!complete, "incomplete")
          .when(viol, "violation")
          .when(col("dc") === 1 && col("df") === 1 && col("dm") === 1,
            "ambiguous")
          .otherwise("phased").as("status"),
        when(!complete || viol, null)
          .when(col("dc") === 0, "0|0")
          .when(col("dc") === 2, "1|1")
          .when(col("df") === 0, "0|1")
          .when(col("df") === 2, "1|0")
          .when(col("dm") === 0, "1|0")
          .when(col("dm") === 2, "0|1")
          .otherwise(null).as("phased"))
      .orderBy("child", "contig", "pos")
  }

  /** Driver gate: x37's two-family grid with the child-dosage generator
    * de-degenerated — x37's `pos·(fam+2)` is constant mod 3 on this
    * grid (pos ≡ 1 mod 3), which would leave every child homozygous
    * and the het-phasing + ambiguous branches untested. `(pos div 3)`
    * varies fully mod 3, so consistent, violating, incomplete (planted
    * `./.`), het-with-hom-parent, and (at pos % 5 == 2 where the rord
    * multiplier ≡ 0 mod 3) the triple-het ambiguous configuration all
    * occur. */
  def x57PhaseByTransmission(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val members = s.createDataFrame(Seq(
      ("fam0_c", 0L, 0L), ("fam0_f", 0L, 1L), ("fam0_m", 0L, 2L),
      ("fam1_c", 1L, 0L), ("fam1_f", 1L, 1L), ("fam1_m", 1L, 2L)))
      .toDF("sample", "fam", "rord")
    val gt = sites.crossJoin(broadcast(members))
      .withColumn("g",
        (expr("pos div 3") * (col("fam") + 1) +
          col("rord") * (col("pos") % 5 + 1)) % 3)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("pos") % 13 === 0 && col("rord") === 1, "./.")
          .when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .otherwise("1/1").as("gt"))
    val trios = s.createDataFrame(Seq(
      ("fam0_c", "fam0_f", "fam0_m"), ("fam1_c", "fam1_f", "fam1_m")))
      .toDF("child", "father", "mother")
    phaseByTransmission(gt, trios)
  }

  val x57Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |fam AS (SELECT * FROM (VALUES (0), (1)) AS t(f)),
      |g AS (SELECT s.contig, s.pos, fam.f,
      |    ((s.pos // 3) * (fam.f + 1) + 0 * (s.pos % 5 + 1)) % 3 AS dc,
      |    CASE WHEN s.pos % 13 = 0 THEN NULL
      |      ELSE ((s.pos // 3) * (fam.f + 1) + 1 * (s.pos % 5 + 1)) % 3
      |      END AS df,
      |    ((s.pos // 3) * (fam.f + 1) + 2 * (s.pos % 5 + 1)) % 3 AS dm
      |  FROM sites s CROSS JOIN fam),
      |cls AS (SELECT contig, pos, f, dc, df, dm,
      |    df IS NOT NULL AS complete,
      |    dc < (df // 2 + dm // 2)
      |      OR dc > ((df + 1) // 2 + (dm + 1) // 2) AS viol
      |  FROM g)
      |SELECT 'fam' || f || '_c' AS child, contig, CAST(pos AS BIGINT) AS pos,
      |  CAST(dc AS BIGINT) AS dc,
      |  CASE WHEN NOT complete THEN 'incomplete'
      |    WHEN viol THEN 'violation'
      |    WHEN dc = 1 AND df = 1 AND dm = 1 THEN 'ambiguous'
      |    ELSE 'phased' END AS status,
      |  CASE WHEN NOT complete OR viol THEN NULL
      |    WHEN dc = 0 THEN '0|0' WHEN dc = 2 THEN '1|1'
      |    WHEN df = 0 THEN '0|1' WHEN df = 2 THEN '1|0'
      |    WHEN dm = 0 THEN '1|0' WHEN dm = 2 THEN '0|1'
      |    ELSE NULL END AS phased
      |FROM cls ORDER BY child, contig, pos""".stripMargin

  // ---------------------------------------------------------------- x58
  /** HARDY–WEINBERG EQUILIBRIUM STATISTIC (`plink --hardy` /
    * `bcftools +fill-tags HWE`) — the per-site genotyping-QC figure
    * after x39's Ts/Tv: under random mating, genotype counts follow
    * (p², 2pq, q²)·n; a large χ² flags genotyping artifacts (batch
    * effects, allele-specific dropout). All arithmetic INTEGER and
    * staged so both engines restate it verbatim (the no-libm
    * discipline): expected counts in milli-units
    * e_AA = (1000·A²) div (4n), e_Ab = (1000·A·B) div (2n),
    * e_bb = (1000·B²) div (4n) with A/B the ref/alt allele totals, and
    * χ²_milli = Σ (1000·obs − e)² div e over the three cells
    * ((10⁶·(obs−e)²)/(10³·e) = 10³·(obs−e)²/e — genuinely milli-χ²)
    * (zero-expectation cells contribute 0 — monomorphic sites score 0
    * by construction). Magnitudes stay below int64 for per-site called
    * cohorts up to ~10⁶ samples ((2000·n)² < 9.2e18). Uncalled
    * genotypes are excluded before counting, plink-style.
    *
    * Scale shape: one narrow projection → ONE uniform (contig, pos)
    * hash aggregate (three conditional sums, map-side combinable) →
    * pure per-row arithmetic. Sites × 1 output, no joins, no windows. */
  def hweStats(gt: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    gt.select(col("contig"), col("pos"), dose.as("d"))
      .where(col("d").isNotNull)
      .groupBy(col("contig"), col("pos"))
      .agg(sum((col("d") === 0).cast("long")).as("n_aa"),
        sum((col("d") === 1).cast("long")).as("n_ab"),
        sum((col("d") === 2).cast("long")).as("n_bb"))
      .withColumn("a_tot", expr("2 * n_aa + n_ab"))
      .withColumn("b_tot", expr("2 * n_bb + n_ab"))
      .withColumn("n", expr("n_aa + n_ab + n_bb"))
      .withColumn("e_aa", expr("(1000 * a_tot * a_tot) div (4 * n)"))
      .withColumn("e_ab", expr("(1000 * a_tot * b_tot) div (2 * n)"))
      .withColumn("e_bb", expr("(1000 * b_tot * b_tot) div (4 * n)"))
      .withColumn("chi2_milli", expr(
        """CASE WHEN e_aa = 0 THEN 0 ELSE
          |  (1000 * n_aa - e_aa) * (1000 * n_aa - e_aa) div e_aa END +
          |CASE WHEN e_ab = 0 THEN 0 ELSE
          |  (1000 * n_ab - e_ab) * (1000 * n_ab - e_ab) div e_ab END +
          |CASE WHEN e_bb = 0 THEN 0 ELSE
          |  (1000 * n_bb - e_bb) * (1000 * n_bb - e_bb) div e_bb
          |  END""".stripMargin))
      .withColumn("maf_milli",
        expr("(1000 * least(a_tot, b_tot)) div (2 * n)"))
      .select(col("contig"), col("pos"), col("n_aa"), col("n_ab"),
        col("n_bb"), col("maf_milli"), col("chi2_milli"))
      .orderBy("contig", "pos")
  }

  /** Driver gate: a 5-sample cohort over the x38 site grid — dosage
    * (pos·7 + sj·3) % 4 yields hom-ref/het/hom-alt plus planted `./.`
    * (g = 3), so the AN-reduction, monomorphic-zero, and het-excess
    * branches all execute. */
  def x58HweStats(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L), ("s4", 4L)))
      .toDF("sample", "sj")
    val gt = sites.crossJoin(broadcast(dim))
      .withColumn("g", (col("pos") * 7 + col("sj") * 3) % 4)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./.").as("gt"))
    hweStats(gt)
  }

  val x58Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos,
      |    CASE WHEN (s.pos * 7 + sm.sj * 3) % 4 = 3 THEN NULL
      |      ELSE (s.pos * 7 + sm.sj * 3) % 4 END AS d
      |  FROM sites s CROSS JOIN sm),
      |cnt AS (SELECT contig, pos,
      |    SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS n_aa,
      |    SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_ab,
      |    SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS n_bb
      |  FROM g WHERE d IS NOT NULL GROUP BY contig, pos),
      |ab AS (SELECT *, 2 * n_aa + n_ab AS a_tot, 2 * n_bb + n_ab AS b_tot,
      |    n_aa + n_ab + n_bb AS n FROM cnt),
      |e AS (SELECT *,
      |    (1000 * a_tot * a_tot) // (4 * n) AS e_aa,
      |    (1000 * a_tot * b_tot) // (2 * n) AS e_ab,
      |    (1000 * b_tot * b_tot) // (4 * n) AS e_bb
      |  FROM ab)
      |SELECT contig, CAST(pos AS BIGINT) AS pos,
      |  CAST(n_aa AS BIGINT) AS n_aa, CAST(n_ab AS BIGINT) AS n_ab,
      |  CAST(n_bb AS BIGINT) AS n_bb,
      |  CAST((1000 * least(a_tot, b_tot)) // (2 * n) AS BIGINT)
      |    AS maf_milli,
      |  CAST(
      |    CASE WHEN e_aa = 0 THEN 0 ELSE
      |      (1000 * n_aa - e_aa) * (1000 * n_aa - e_aa) // e_aa END +
      |    CASE WHEN e_ab = 0 THEN 0 ELSE
      |      (1000 * n_ab - e_ab) * (1000 * n_ab - e_ab) // e_ab END +
      |    CASE WHEN e_bb = 0 THEN 0 ELSE
      |      (1000 * n_bb - e_bb) * (1000 * n_bb - e_bb) // e_bb
      |      END AS BIGINT) AS chi2_milli
      |FROM e ORDER BY contig, pos""".stripMargin

  // ---------------------------------------------------------------- x59
  /** SPLICE-JUNCTION EXTRACTION (STAR SJ.out.tab / TopHat junctions /
    * `regtools junctions extract`) — the first RNA-seq-specific
    * operator: every `N` op in an aligned read's CIGAR is an intron;
    * the junction (contig, donor, acceptor) — first and
    * one-past-last intron base, half-open — is counted across reads
    * and reported at ≥ minSupport. The ref-walk semantics are the
    * whole point: M/D/=/X advance the reference, I/S/H/P do NOT, so a
    * soft-clip or insertion upstream of the intron must leave the
    * junction fixed while a deletion shifts it.
    *
    * One per-row CIGAR fold (a token-array `aggregate` HOF — per-row
    * bounded work, no shuffle) → explode of the per-read junction list
    * (reads carry 0..few introns) → ONE uniform hash aggregate on the
    * (contig, donor, acceptor) key, map-side combinable; the support
    * filter is a post-aggregate row filter. Output is junction-sized,
    * never read-sized. */
  def spliceJunctions(reads: DataFrame, minSupport: Long): DataFrame = {
    val parsed = reads.select(col("contig"), col("pos").cast("long").as("pos"),
      expr("regexp_extract_all(cigar, '\\\\d+[MIDNSHP=X]', 0)").as("ops"))
    parsed.select(col("contig"), explode(expr(
        """aggregate(ops,
          |  struct(pos AS ref,
          |    CAST(array() AS ARRAY<STRUCT<donor: BIGINT, acceptor: BIGINT>>)
          |      AS j),
          |  (acc, o) -> named_struct(
          |    'ref', acc.ref + CASE
          |      WHEN right(o, 1) IN ('M', 'D', 'N', '=', 'X')
          |      THEN CAST(substring(o, 1, length(o) - 1) AS BIGINT)
          |      ELSE 0L END,
          |    'j', CASE WHEN right(o, 1) = 'N'
          |      THEN array_append(acc.j, named_struct('donor', acc.ref,
          |        'acceptor',
          |        acc.ref + CAST(substring(o, 1, length(o) - 1) AS BIGINT)))
          |      ELSE acc.j END),
          |  acc -> acc.j)""".stripMargin)).as("jn"))
      .select(col("contig"), col("jn.donor").as("donor"),
        col("jn.acceptor").as("acceptor"))
      .groupBy(col("contig"), col("donor"), col("acceptor"))
      .agg(count(lit(1)).as("n_reads"))
      .where(col("n_reads") >= minSupport)
      .orderBy("contig", "donor", "acceptor")
  }

  /** Driver gate: spliced reads with coarse-keyed (pos, m1, intron)
    * generators so junctions recur with varying support around the
    * minSupport=3 cut; a third of reads carry a 4I insertion (must NOT
    * shift the junction), a third a 2D deletion (MUST shift it by 2),
    * and alternate reads lead with a soft clip (no shift). The
    * operator parses the real CIGAR strings; the oracle restates the
    * junction closed-form from the generators. */
  def x59SpliceJunctions(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 11 === 4)
    val base = li.select(
      when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
        .as("contig"),
      ((col("l_partkey") % 5) * 100 + 1).cast("long").as("pos"),
      (col("l_suppkey") % 3 * 5 + 20).cast("long").as("m1"),
      ((col("l_partkey") % 3 + 1) * 100).cast("long").as("n"),
      (col("l_orderkey") % 2).as("has_s"),
      (col("l_orderkey") % 5 + 3).cast("long").as("sc"),
      (col("l_orderkey") % 3).as("variant"))
    val cigar = concat(
      when(col("has_s") === 1, concat(col("sc"), lit("S")))
        .otherwise(lit("")),
      col("m1"), lit("M"),
      when(col("variant") === 1, lit("4I"))
        .when(col("variant") === 2, lit("2D")).otherwise(lit("")),
      col("n"), lit("N"), lit("25M"))
    spliceJunctions(
      base.select(col("contig"), col("pos"), cigar.as("cigar")),
      minSupport = 3L)
  }

  val x59Sql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 11 = 4),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    (l_partkey % 5) * 100 + 1
      |      + (l_suppkey % 3 * 5 + 20)
      |      + CASE WHEN l_orderkey % 3 = 2 THEN 2 ELSE 0 END AS donor,
      |    (l_partkey % 3 + 1) * 100 AS n
      |  FROM li),
      |j AS (SELECT contig, donor, donor + n AS acceptor, COUNT(*) AS c
      |  FROM r GROUP BY contig, donor, donor + n)
      |SELECT contig, CAST(donor AS BIGINT) AS donor,
      |  CAST(acceptor AS BIGINT) AS acceptor, CAST(c AS BIGINT) AS n_reads
      |FROM j WHERE c >= 3 ORDER BY contig, donor, acceptor""".stripMargin

  // ---------------------------------------------------------------- x60
  /** VCF VARIANT NORMALIZATION (`bcftools norm` / vt normalize, Tan et
    * al. 2015) — the canonicalization every variant join/concordance
    * depends on (x36's equality silently misses un-normalized indel
    * representations): (1) trailing bases shared by REF and ALT
    * truncate; (2) when truncation empties either allele, both extend
    * LEFT with the reference base before POS (the left-align step);
    * (3) leading shared bases truncate when both alleles keep ≥ 2
    * chars. The upstream reference bases ride IN-ROW as a fixed-width
    * context column (`ctx`, the [pos−8, pos) window — at scale the
    * x46-style refTiles equi-join materializes it; no broadcast
    * chromosome), and alignment that would run off the carried window
    * stops at the window edge rather than guessing (widen the window
    * at materialization time for deeper homopolymer runs).
    *
    * The iteration is a BOUNDED FOLD — `aggregate(sequence(1, 24), …)`
    * over an idempotent step (done-flag), pure per-row codegen-resident
    * arithmetic, no shuffle, no UDF; the oracle restates the identical
    * step as a DuckDB recursive CTE (the q68 discipline) and matches
    * pos/ref/alt exactly. */
  def normalizeVariants(variants: DataFrame): DataFrame = {
    // acc = (pos0, pos, ref, alt, done); ctx covers [pos0-8, pos0), so
    // the base at (pos-1) sits at 1-based ctx index pos - pos0 + 8
    val step =
      """CASE
        |  WHEN acc.done THEN acc
        |  WHEN length(acc.ref) >= 1 AND length(acc.alt) >= 1
        |      AND (length(acc.ref) > 1 OR length(acc.alt) > 1)
        |      AND right(acc.ref, 1) = right(acc.alt, 1) THEN
        |    CASE WHEN length(acc.ref) = 1 OR length(acc.alt) = 1 THEN
        |      CASE WHEN acc.pos - acc.pos0 + 8 >= 1 THEN
        |        named_struct('pos0', acc.pos0, 'pos', acc.pos - 1L,
        |          'ref', concat(substring(ctx, CAST(acc.pos - acc.pos0 + 8
        |              AS INT), 1),
        |            substring(acc.ref, 1, length(acc.ref) - 1)),
        |          'alt', concat(substring(ctx, CAST(acc.pos - acc.pos0 + 8
        |              AS INT), 1),
        |            substring(acc.alt, 1, length(acc.alt) - 1)),
        |          'done', false)
        |      ELSE named_struct('pos0', acc.pos0, 'pos', acc.pos,
        |        'ref', acc.ref, 'alt', acc.alt, 'done', true) END
        |    ELSE named_struct('pos0', acc.pos0, 'pos', acc.pos,
        |      'ref', substring(acc.ref, 1, length(acc.ref) - 1),
        |      'alt', substring(acc.alt, 1, length(acc.alt) - 1),
        |      'done', false) END
        |  WHEN length(acc.ref) >= 2 AND length(acc.alt) >= 2
        |      AND left(acc.ref, 1) = left(acc.alt, 1) THEN
        |    named_struct('pos0', acc.pos0, 'pos', acc.pos + 1L,
        |      'ref', substring(acc.ref, 2), 'alt', substring(acc.alt, 2),
        |      'done', false)
        |  ELSE named_struct('pos0', acc.pos0, 'pos', acc.pos,
        |    'ref', acc.ref, 'alt', acc.alt, 'done', true)
        |END""".stripMargin
    variants
      .withColumn("nrm", expr(
        s"""aggregate(sequence(1, 24),
           |  named_struct('pos0', CAST(pos AS BIGINT),
           |    'pos', CAST(pos AS BIGINT),
           |    'ref', ref, 'alt', alt, 'done', false),
           |  (acc, i) -> $step,
           |  acc -> acc)""".stripMargin))
      .select(col("contig"), col("pos").as("orig_pos"),
        col("ref").as("orig_ref"), col("alt").as("orig_alt"),
        col("nrm.pos").as("pos"), col("nrm.ref").as("ref"),
        col("nrm.alt").as("alt"), col("nrm.done").as("converged"))
      .orderBy("contig", "orig_pos", "orig_ref", "orig_alt")
  }

  /** Driver gate: a 4-class generator over the x39 site grid — SNPs
    * (no-op), shared-trailing-base trims, non-left-aligned deletions,
    * and non-left-aligned insertions — against an 8-bp PAIRED context
    * (`AACCGGTT`-style, adjacent bases equal half the time) so
    * left-shift chains of length > 1 genuinely occur, deterministically
    * in both engines. */
  def x60VcfNormalize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 18 === 7)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 500) * 2 + 1).cast("long").as("pos"))
      .distinct()
      .where(col("pos") >= 9) // keep the full 8-bp context in-genome
    val withCtx = sites
      .withColumn("ctx", concat((1 to 8).map(i => expr(
        s"substring('ACGT', CAST(((pos - 9 + $i) div 2) % 4 AS INT) + 1, 1)")
        ): _*))
      .withColumn("cl", expr("substring(ctx, 8, 1)"))
      .withColumn("c0", expr(
        "substring('ACGT', CAST(pos % 4 AS INT) + 1, 1)"))
      .withColumn("c1", expr(
        "substring('ACGT', CAST((pos + 1) % 4 AS INT) + 1, 1)"))
      .withColumn("c2", expr(
        "substring('ACGT', CAST((pos + 2) % 4 AS INT) + 1, 1)"))
    val cls = expr("(pos div 2) % 4") // pos is odd on this grid: pos % 4
    // would only hit {1, 3} and silently skip two classes
    val variants = withCtx.select(col("contig"), col("pos"), col("ctx"),
      when(cls === 0, col("c0"))
        .when(cls === 1, concat(col("c0"), col("c1"), col("cl")))
        .when(cls === 2, concat(col("c1"), col("cl")))
        .otherwise(col("cl")).as("ref"),
      when(cls === 0, col("c1"))
        .when(cls === 1, concat(col("c2"), col("cl")))
        .when(cls === 2, col("cl"))
        .otherwise(concat(col("c2"), col("cl"))).as("alt"))
    normalizeVariants(variants)
  }

  val x60Sql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 18 = 7),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 500) * 2 + 1 AS pos FROM li),
      |s2 AS (SELECT * FROM sites WHERE pos >= 9),
      |cx AS (SELECT contig, pos,
      |    substr('ACGT', CAST(((pos - 8) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 7) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 6) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 5) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 4) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 3) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 2) // 2) % 4 AS INT) + 1, 1)
      |    || substr('ACGT', CAST(((pos - 1) // 2) % 4 AS INT) + 1, 1)
      |      AS ctx,
      |    substr('ACGT', CAST(((pos - 1) // 2) % 4 AS INT) + 1, 1) AS cl,
      |    substr('ACGT', CAST(pos % 4 AS INT) + 1, 1) AS c0,
      |    substr('ACGT', CAST((pos + 1) % 4 AS INT) + 1, 1) AS c1,
      |    substr('ACGT', CAST((pos + 2) % 4 AS INT) + 1, 1) AS c2
      |  FROM s2),
      |v AS (SELECT contig, pos, ctx,
      |    CASE WHEN (pos // 2) % 4 = 0 THEN c0
      |      WHEN (pos // 2) % 4 = 1 THEN c0 || c1 || cl
      |      WHEN (pos // 2) % 4 = 2 THEN c1 || cl ELSE cl END AS ref,
      |    CASE WHEN (pos // 2) % 4 = 0 THEN c1
      |      WHEN (pos // 2) % 4 = 1 THEN c2 || cl
      |      WHEN (pos // 2) % 4 = 2 THEN cl ELSE c2 || cl END AS alt
      |  FROM cx),
      |norm AS (
      |  SELECT contig, pos AS pos0, ctx, ref AS orig_ref, alt AS orig_alt,
      |    pos AS p, ref AS r, alt AS a, FALSE AS done, 0 AS it
      |  FROM v
      |  UNION ALL
      |  SELECT contig, pos0, ctx, orig_ref, orig_alt,
      |    CASE
      |      WHEN length(r) >= 1 AND length(a) >= 1
      |          AND (length(r) > 1 OR length(a) > 1)
      |          AND right(r, 1) = right(a, 1) THEN
      |        CASE WHEN length(r) = 1 OR length(a) = 1
      |          THEN CASE WHEN p - pos0 + 8 >= 1 THEN p - 1 ELSE p END
      |          ELSE p END
      |      WHEN length(r) >= 2 AND length(a) >= 2
      |          AND left(r, 1) = left(a, 1) THEN p + 1
      |      ELSE p END AS p,
      |    CASE
      |      WHEN length(r) >= 1 AND length(a) >= 1
      |          AND (length(r) > 1 OR length(a) > 1)
      |          AND right(r, 1) = right(a, 1) THEN
      |        CASE WHEN length(r) = 1 OR length(a) = 1
      |          THEN CASE WHEN p - pos0 + 8 >= 1
      |            THEN substr(ctx, CAST(p - pos0 + 8 AS INT), 1)
      |              || substr(r, 1, length(r) - 1)
      |            ELSE r END
      |          ELSE substr(r, 1, length(r) - 1) END
      |      WHEN length(r) >= 2 AND length(a) >= 2
      |          AND left(r, 1) = left(a, 1) THEN substr(r, 2)
      |      ELSE r END AS r,
      |    CASE
      |      WHEN length(r) >= 1 AND length(a) >= 1
      |          AND (length(r) > 1 OR length(a) > 1)
      |          AND right(r, 1) = right(a, 1) THEN
      |        CASE WHEN length(r) = 1 OR length(a) = 1
      |          THEN CASE WHEN p - pos0 + 8 >= 1
      |            THEN substr(ctx, CAST(p - pos0 + 8 AS INT), 1)
      |              || substr(a, 1, length(a) - 1)
      |            ELSE a END
      |          ELSE substr(a, 1, length(a) - 1) END
      |      WHEN length(r) >= 2 AND length(a) >= 2
      |          AND left(r, 1) = left(a, 1) THEN substr(a, 2)
      |      ELSE a END AS a,
      |    CASE
      |      WHEN length(r) >= 1 AND length(a) >= 1
      |          AND (length(r) > 1 OR length(a) > 1)
      |          AND right(r, 1) = right(a, 1) THEN
      |        CASE WHEN (length(r) = 1 OR length(a) = 1)
      |            AND p - pos0 + 8 < 1 THEN TRUE ELSE FALSE END
      |      WHEN length(r) >= 2 AND length(a) >= 2
      |          AND left(r, 1) = left(a, 1) THEN FALSE
      |      ELSE TRUE END AS done,
      |    it + 1 AS it
      |  FROM norm WHERE NOT done AND it < 24),
      |fin AS (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY contig, pos0, orig_ref, orig_alt
      |    ORDER BY it DESC) AS rn
      |  FROM norm)
      |SELECT contig, CAST(pos0 AS BIGINT) AS orig_pos, orig_ref, orig_alt,
      |  CAST(p AS BIGINT) AS pos, r AS ref, a AS alt, done AS converged
      |FROM fin WHERE rn = 1
      |ORDER BY contig, orig_pos, orig_ref, orig_alt""".stripMargin

  // ---------------------------------------------------------------- x61
  /** SPLIT-READ SV BREAKPOINTS — the second evidence channel of
    * structural-variant calling (Manta/LUMPY/DELLY pair x54's
    * discordant INSERT-SIZE votes with these SOFT-CLIP votes; split
    * reads localize the breakpoint to the base, pairs only to the
    * insert): a read whose alignment soft-clips at one end and whose
    * `SA:Z` supplementary tag (`rname,pos,strand,CIGAR,…`) aligns the
    * clipped tail elsewhere witnesses a junction between (a) the
    * primary's clip edge — `pos + ref_len(cigar)` for a trailing clip
    * (via the native codegen [[graft.functions.CigarSumsExpr]]), `pos`
    * for a leading clip — and (b) the supplementary's clip edge by the
    * same rule. Endpoint pairs canonicalize (x54's mate-swap rule) so
    * either fragment's report lands in one cluster; reads with no clip
    * or no SA drop first.
    *
    * One narrow filter+parse pass (split-read fraction is tiny by
    * definition) → ONE uniform hash aggregate on the canonical
    * breakpoint-pair key, map-side combinable; no self-join, no
    * binning slop — split evidence is base-precise. */
  def splitReadBreakpoints(reads: DataFrame,
      minSupport: Long): DataFrame = {
    import graft.functions.CigarSumsExpr
    val parsed = reads.where(col("sa").isNotNull)
      .withColumn("sa_contig", expr("split(sa, ',')[0]"))
      .withColumn("sa_pos", expr("CAST(split(sa, ',')[1] AS BIGINT)"))
      .withColumn("sa_cigar", expr("split(sa, ',')[3]"))
      .withColumn("cs", CigarSumsExpr.cigarSums(col("cigar")))
      .withColumn("sa_cs", CigarSumsExpr.cigarSums(col("sa_cigar")))
      .withColumn("trail_clip", col("cigar").rlike("[0-9]+S$"))
      .withColumn("lead_clip", col("cigar").rlike("^[0-9]+S"))
      .withColumn("sa_trail", col("sa_cigar").rlike("[0-9]+S$"))
      .withColumn("sa_lead", col("sa_cigar").rlike("^[0-9]+S"))
      .where((col("trail_clip") || col("lead_clip")) &&
        (col("sa_trail") || col("sa_lead")))
      // trailing clip wins when both ends clip (deterministic tie rule)
      .withColumn("bp1", when(col("trail_clip"),
        col("pos") + col("cs.ref_len")).otherwise(col("pos")))
      .withColumn("bp2", when(col("sa_trail"),
        col("sa_pos") + col("sa_cs.ref_len")).otherwise(col("sa_pos")))
    val swap = col("contig") > col("sa_contig") ||
      (col("contig") === col("sa_contig") && col("bp1") > col("bp2"))
    parsed.select(
        when(swap, col("sa_contig")).otherwise(col("contig")).as("c1"),
        when(swap, col("bp2")).otherwise(col("bp1")).as("b1"),
        when(swap, col("contig")).otherwise(col("sa_contig")).as("c2"),
        when(swap, col("bp1")).otherwise(col("bp2")).as("b2"))
      .groupBy(col("c1"), col("b1"), col("c2"), col("b2"))
      .agg(count(lit(1)).as("n_reads"))
      .where(col("n_reads") >= minSupport)
      .orderBy("c1", "b1", "c2", "b2")
  }

  /** Driver gate: coarse-keyed split reads (both orientations, real
    * CIGAR + SA strings parsed by the operator) plus planted non-split
    * reads (null SA / clipless CIGAR) that must drop; the oracle
    * restates breakpoints closed-form from the generators. */
  def x61SplitReadSv(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 13 === 6)
    val base = li.select(
      when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr3")
        .as("contig"),
      ((col("l_partkey") % 4) * 500 + 100).cast("long").as("pos"),
      (lit(40) + (col("l_suppkey") % 3) * 10).cast("long").as("m"),
      (col("l_partkey") % 2).as("orient"),
      ((col("l_partkey") % 4) * 400 + 50).cast("long").as("sa_pos"),
      (col("l_orderkey") % 3 === 0).as("unsplit"))
    val reads = base.select(col("contig"), col("pos"),
      when(col("unsplit"), concat(col("m"), lit("M")))
        .when(col("orient") === 0, concat(col("m"), lit("M"), lit("30S")))
        .otherwise(concat(lit("30S"), col("m"), lit("M"))).as("cigar"),
      when(col("unsplit"), lit(null).cast("string"))
        .otherwise(concat(lit("chr9,"), col("sa_pos"), lit(",+,"),
          when(col("orient") === 0,
            concat(lit("30S"), col("m"), lit("M")))
            .otherwise(concat(col("m"), lit("M"), lit("30S")))))
        .as("sa"))
    splitReadBreakpoints(reads, minSupport = 3L)
  }

  val x61Sql: String =
    """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 13 = 6 AND l_orderkey % 3 <> 0),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr3' END
      |      AS contig,
      |    (l_partkey % 4) * 500 + 100 AS pos,
      |    40 + (l_suppkey % 3) * 10 AS m,
      |    l_partkey % 2 AS orient,
      |    (l_partkey % 4) * 400 + 50 AS sa_pos
      |  FROM li),
      |bp AS (SELECT contig,
      |    CASE WHEN orient = 0 THEN pos + m ELSE pos END AS bp1,
      |    'chr9' AS sa_contig,
      |    CASE WHEN orient = 0 THEN sa_pos ELSE sa_pos + m END AS bp2
      |  FROM r),
      |canon AS (SELECT
      |    CASE WHEN contig > sa_contig
      |        OR (contig = sa_contig AND bp1 > bp2)
      |      THEN sa_contig ELSE contig END AS c1,
      |    CASE WHEN contig > sa_contig
      |        OR (contig = sa_contig AND bp1 > bp2)
      |      THEN bp2 ELSE bp1 END AS b1,
      |    CASE WHEN contig > sa_contig
      |        OR (contig = sa_contig AND bp1 > bp2)
      |      THEN contig ELSE sa_contig END AS c2,
      |    CASE WHEN contig > sa_contig
      |        OR (contig = sa_contig AND bp1 > bp2)
      |      THEN bp1 ELSE bp2 END AS b2
      |  FROM bp)
      |SELECT c1, CAST(b1 AS BIGINT) AS b1, c2, CAST(b2 AS BIGINT) AS b2,
      |  CAST(COUNT(*) AS BIGINT) AS n_reads
      |FROM canon GROUP BY c1, b1, c2, b2
      |HAVING COUNT(*) >= 3 ORDER BY c1, b1, c2, b2""".stripMargin

  // ---------------------------------------------------------------- x62
  /** TUMOR–NORMAL SOMATIC SUBTRACTION (MuTect/Strelka's first gate) —
    * the pairing step of cancer genomics: a tumor variant is only
    * SOMATIC if the matched normal gives positive evidence of absence;
    * a normal that is merely shallow cannot rule the variant in OR out
    * and must be reported as such, not silently dropped or silently
    * kept (the classic contamination-vs-sensitivity trade). Tumor
    * candidates (AF ≥ 10%, depth ≥ 8) LEFT-join the normal on the
    * uniform (contig, pos) site key and classify: `germline` (normal
    * AF > 3%), `low_normal_depth` (normal depth < 8), `no_normal`
    * (site absent from the normal), else `somatic`. Allele fractions
    * are integer permille throughout — no float thresholds to drift
    * cross-engine.
    *
    * One filtered scan per sample + ONE uniform equi-join + a per-row
    * CASE; output is candidate-sized. At cohort scale the same plan
    * runs per tumor/normal PAIR with pair_id folded into the join
    * key. */
  def somaticSubtract(tumor: DataFrame, normal: DataFrame,
      minTumorAf: Long = 100L, minDepth: Long = 8L,
      maxNormalAf: Long = 30L): DataFrame = {
    val tAf = tumor
      .withColumn("t_af_permille",
        expr("(1000 * alt_depth) div depth"))
      .where(col("t_af_permille") >= minTumorAf &&
        col("depth") >= minDepth)
      .select(col("contig"), col("pos"),
        col("t_af_permille"), col("depth").as("t_depth"))
    val nAf = normal
      .withColumn("n_af_permille",
        expr("(1000 * alt_depth) div depth"))
      .select(col("contig"), col("pos"), col("n_af_permille"),
        col("depth").as("n_depth"))
    tAf.join(nAf, Seq("contig", "pos"), "left")
      .withColumn("status",
        when(col("n_depth").isNull, "no_normal")
          .when(col("n_af_permille") > maxNormalAf, "germline")
          .when(col("n_depth") < minDepth, "low_normal_depth")
          .otherwise("somatic"))
      .select(col("contig"), col("pos"), col("t_af_permille"),
        col("n_af_permille"), col("status"))
      .orderBy("contig", "pos")
  }

  /** Driver gate: tumor depth/alt generators sweep AF through the 10%
    * cut; the normal is absent at pos % 5 == 1, shallow at pos % 7 == 2,
    * and alt-bearing at pos % 3 == 0 — all four classifications and the
    * candidate filter execute. */
  def x62SomaticSubtract(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 3)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 300) * 4 + 1).cast("long").as("pos"))
      .distinct()
    val tumor = sites.select(col("contig"), col("pos"),
      (col("pos") % 12).cast("long").as("alt_depth"),
      (lit(20) + col("pos") % 16).cast("long").as("depth"))
    val normal = sites.where(col("pos") % 5 =!= 1)
      .select(col("contig"), col("pos"),
        when(col("pos") % 3 === 0, col("pos") % 9)
          .otherwise(lit(0L)).cast("long").as("alt_depth"),
        when(col("pos") % 7 === 2, lit(4L)).otherwise(lit(30L))
          .cast("long").as("depth"))
    somaticSubtract(tumor, normal)
  }

  val x62Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 19 = 3),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    (l_partkey % 300) * 4 + 1 AS pos FROM li),
      |t AS (SELECT contig, pos,
      |    (1000 * (pos % 12)) // (20 + pos % 16) AS t_af_permille,
      |    20 + pos % 16 AS t_depth
      |  FROM sites
      |  WHERE (1000 * (pos % 12)) // (20 + pos % 16) >= 100
      |    AND 20 + pos % 16 >= 8),
      |n AS (SELECT contig, pos,
      |    (1000 * (CASE WHEN pos % 3 = 0 THEN pos % 9 ELSE 0 END))
      |      // (CASE WHEN pos % 7 = 2 THEN 4 ELSE 30 END)
      |      AS n_af_permille,
      |    CASE WHEN pos % 7 = 2 THEN 4 ELSE 30 END AS n_depth
      |  FROM sites WHERE pos % 5 <> 1)
      |SELECT t.contig, CAST(t.pos AS BIGINT) AS pos,
      |  CAST(t.t_af_permille AS BIGINT) AS t_af_permille,
      |  CAST(n.n_af_permille AS BIGINT) AS n_af_permille,
      |  CASE WHEN n.n_depth IS NULL THEN 'no_normal'
      |    WHEN n.n_af_permille > 30 THEN 'germline'
      |    WHEN n.n_depth < 8 THEN 'low_normal_depth'
      |    ELSE 'somatic' END AS status
      |FROM t LEFT JOIN n ON t.contig = n.contig AND t.pos = n.pos
      |ORDER BY t.contig, t.pos""".stripMargin

  // ---------------------------------------------------------------- x63
  /** PHASING SWITCH-ERROR EVALUATION (WhatsHap `compare` / the
    * switch-error rate every phasing paper reports) — the metric
    * downstream of x57: at biallelic het sites, a phased call is
    * either truth-oriented or flipped; a SWITCH is an orientation
    * change between CONSECUTIVE phased het sites of one (sample,
    * contig). Sites that are unphased or missing from either set drop
    * out first (they break no pairs — the WhatsHap convention: the
    * pair count is over surviving adjacencies).
    *
    * One uniform equi-join of call vs truth on (sample, contig, pos),
    * a (sample, contig)-KEYED lag window (haplotype blocks are
    * chromosome-bounded; at 100× the x45/x55 two-level decomposition
    * applies unchanged), then a per-group sum — output is
    * (sample × contig)-sized. */
  def switchErrors(ph: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sample"), col("contig"))
      .orderBy(col("pos"))
    ph.where(col("call").isNotNull && col("truth").isNotNull)
      .withColumn("ori", (expr("substring(call, 1, 1)") ===
        expr("substring(truth, 1, 1)")).cast("long"))
      .withColumn("prev", lag(col("ori"), 1).over(w))
      .groupBy(col("sample"), col("contig"))
      .agg(sum(when(col("prev").isNotNull, 1L).otherwise(0L))
          .as("n_pairs"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("ori"), 1L)
          .otherwise(0L)).as("n_switches"))
      .withColumn("switch_permille", expr(
        "CASE WHEN n_pairs = 0 THEN NULL" +
          " ELSE (1000 * n_switches) div n_pairs END"))
      .orderBy("sample", "contig")
  }

  /** Driver gate: two samples over the x58 site grid with
    * different-period call/truth orientation generators (so both
    * agreeing and flipped stretches occur) and unphased sites planted
    * at pos % 6 == 0 (must drop without breaking adjacency
    * counting). */
  def x63SwitchErrors(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 21 === 8)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(("s0", 0L), ("s1", 1L)))
      .toDF("sample", "sj")
    sites.crossJoin(broadcast(dim))
      .select(col("sample"), col("contig"), col("pos"),
        when(col("pos") % 6 === 0, lit(null).cast("string"))
          .when((expr("pos div 3") + col("sj")) % 2 === 0, "0|1")
          .otherwise("1|0").as("call"),
        when(expr("pos div 7") % 2 === 0, "0|1").otherwise("1|0")
          .as("truth"))
      .transform(switchErrors)
  }

  // ---------------------------------------------------------------- x64
  /** TRANSMISSION DISEQUILIBRIUM TEST tallies (Spielman 1993, `plink
    * --tdt`) — the family-based association test immune to population
    * stratification, and the natural consumer of x37's trio pivot: at
    * each consistent, complete trio-site, every HET parent transmits
    * one resolvable allele — hom parents transmit d div 2 by
    * necessity, so the het-parents' transmitted-alt count is
    * b_site = dc − Σ_hom(d div 2), with the both-het/het-child case
    * contributing one transmitted and one untransmitted each (the
    * classic counting identity — no phasing needed). b = transmitted
    * alt, c = untransmitted alt over all informative sites; the
    * McNemar statistic (b−c)²/(b+c) is reported in integer milli
    * (null when no informative site exists). Violations and
    * incomplete sites are excluded first — a violating trio would
    * push b_site outside [0, h].
    *
    * Same shape as x37: broadcast roster join, ONE site-trio-keyed
    * 3-conditional-max pivot, then a family-keyed sum — map-side
    * combinable end to end. */
  def tdtTallies(gt: DataFrame, trios: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    val roster = trios.select(col("child"),
      explode(array(
        struct(col("child").as("sample"), lit("c").as("role")),
        struct(col("father").as("sample"), lit("f").as("role")),
        struct(col("mother").as("sample"), lit("m").as("role")))).as("r"))
      .select(col("child"), col("r.sample").as("sample"),
        col("r.role").as("role"))
    val per = gt.select(col("contig"), col("pos"), col("sample"),
        dose.as("d"))
      .join(broadcast(roster), Seq("sample"))
      .groupBy(col("child"), col("contig"), col("pos"))
      .agg(max(when(col("role") === "c", col("d"))).as("dc"),
        max(when(col("role") === "f", col("d"))).as("df"),
        max(when(col("role") === "m", col("d"))).as("dm"))
    val complete = col("dc").isNotNull && col("df").isNotNull &&
      col("dm").isNotNull
    val viol = col("dc") < expr("df div 2 + dm div 2") ||
      col("dc") > expr("(df + 1) div 2 + (dm + 1) div 2")
    per.where(complete && !viol)
      .withColumn("h", (col("df") === 1).cast("long") +
        (col("dm") === 1).cast("long"))
      .where(col("h") > 0)
      .withColumn("b_site", col("dc") -
        expr("CASE WHEN df <> 1 THEN df div 2 ELSE 0 END") -
        expr("CASE WHEN dm <> 1 THEN dm div 2 ELSE 0 END"))
      .groupBy(col("child"))
      .agg(sum(col("b_site")).as("b"),
        sum(col("h") - col("b_site")).as("c"))
      .withColumn("tdt_milli", expr(
        "CASE WHEN b + c = 0 THEN NULL" +
          " ELSE (1000 * (b - c) * (b - c)) div (b + c) END"))
      .orderBy("child")
  }

  /** Driver gate: x57's de-degenerated two-family grid (hets genuinely
    * occur in parents AND children, `./.` planted, violations planted
    * and excluded). */
  def x64TdtTallies(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 17 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 400) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val members = s.createDataFrame(Seq(
      ("fam0_c", 0L, 0L), ("fam0_f", 0L, 1L), ("fam0_m", 0L, 2L),
      ("fam1_c", 1L, 0L), ("fam1_f", 1L, 1L), ("fam1_m", 1L, 2L)))
      .toDF("sample", "fam", "rord")
    val gt = sites.crossJoin(broadcast(members))
      .withColumn("g",
        (expr("pos div 3") * (col("fam") + 1) +
          col("rord") * (col("pos") % 5 + 1)) % 3)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("pos") % 13 === 0 && col("rord") === 1, "./.")
          .when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .otherwise("1/1").as("gt"))
    val trios = s.createDataFrame(Seq(
      ("fam0_c", "fam0_f", "fam0_m"), ("fam1_c", "fam1_f", "fam1_m")))
      .toDF("child", "father", "mother")
    tdtTallies(gt, trios)
  }

  val x64Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_partkey FROM lineitem WHERE l_orderkey % 17 = 5),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |fam AS (SELECT * FROM (VALUES (0), (1)) AS t(f)),
      |g AS (SELECT s.contig, s.pos, fam.f,
      |    ((s.pos // 3) * (fam.f + 1) + 0 * (s.pos % 5 + 1)) % 3 AS dc,
      |    CASE WHEN s.pos % 13 = 0 THEN NULL
      |      ELSE ((s.pos // 3) * (fam.f + 1) + 1 * (s.pos % 5 + 1)) % 3
      |      END AS df,
      |    ((s.pos // 3) * (fam.f + 1) + 2 * (s.pos % 5 + 1)) % 3 AS dm
      |  FROM sites s CROSS JOIN fam),
      |ok AS (SELECT * FROM g WHERE df IS NOT NULL
      |  AND NOT (dc < (df // 2 + dm // 2)
      |    OR dc > ((df + 1) // 2 + (dm + 1) // 2))),
      |inf AS (SELECT f,
      |    (CASE WHEN df = 1 THEN 1 ELSE 0 END
      |      + CASE WHEN dm = 1 THEN 1 ELSE 0 END) AS h,
      |    dc - (CASE WHEN df <> 1 THEN df // 2 ELSE 0 END)
      |       - (CASE WHEN dm <> 1 THEN dm // 2 ELSE 0 END) AS b_site
      |  FROM ok
      |  WHERE df = 1 OR dm = 1),
      |ag AS (SELECT f, SUM(b_site) AS b, SUM(h - b_site) AS c
      |  FROM inf GROUP BY f)
      |SELECT 'fam' || f || '_c' AS child, CAST(b AS BIGINT) AS b,
      |  CAST(c AS BIGINT) AS c,
      |  CAST(CASE WHEN b + c = 0 THEN NULL
      |    ELSE (1000 * (b - c) * (b - c)) // (b + c) END AS BIGINT)
      |    AS tdt_milli
      |FROM ag ORDER BY child""".stripMargin

  val x63Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 21 = 8),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    (l_partkey % 400) * 3 + 1 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES ('s0', 0), ('s1', 1)) AS t(sample, sj)),
      |ph AS (SELECT sample, contig, pos,
      |    CASE WHEN pos % 6 = 0 THEN NULL
      |      WHEN ((pos // 3) + sj) % 2 = 0 THEN '0|1' ELSE '1|0' END
      |      AS call,
      |    CASE WHEN (pos // 7) % 2 = 0 THEN '0|1' ELSE '1|0' END AS truth
      |  FROM sites CROSS JOIN sm),
      |ori AS (SELECT sample, contig, pos,
      |    CASE WHEN substr(call, 1, 1) = substr(truth, 1, 1)
      |      THEN 1 ELSE 0 END AS ori
      |  FROM ph WHERE call IS NOT NULL AND truth IS NOT NULL),
      |lg AS (SELECT sample, contig, ori,
      |    LAG(ori) OVER (PARTITION BY sample, contig ORDER BY pos)
      |      AS prev
      |  FROM ori),
      |ag AS (SELECT sample, contig,
      |    SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS n_pairs,
      |    SUM(CASE WHEN prev IS NOT NULL AND prev <> ori THEN 1 ELSE 0
      |      END) AS n_switches
      |  FROM lg GROUP BY sample, contig)
      |SELECT sample, contig, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(n_switches AS BIGINT) AS n_switches,
      |  CAST(CASE WHEN n_pairs = 0 THEN NULL
      |    ELSE (1000 * n_switches) // n_pairs END AS BIGINT)
      |    AS switch_permille
      |FROM ag ORDER BY sample, contig""".stripMargin

  // ---------------------------------------------------------------- x40
  /** FASTA ROUNDTRIP gate — pins [[graft.sources.Fasta]]: deterministic
    * rotated-pattern sequences write to one wrapped FASTA via the
    * distributed text sink, then read back through the `\n>`-separated
    * SPLITTABLE scan with `maxPartitionBytes` forced down so the single
    * file genuinely fans out over multiple input splits (a `require`
    * pins it) — records straddling split boundaries must reassemble
    * exactly, which the per-sequence (length, GC) oracle equality
    * proves. The oracle reconstructs the same sequences arithmetically
    * in DuckDB; no file I/O on the oracle side. */
  def x40FastaRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{Fasta, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 21 === 6)
    val seqs = li.select((col("l_partkey") % 300).cast("long").as("k"))
      .distinct()
      .select(
        concat(lit("seq"), lpad(col("k").cast("string"), 5, "0")).as("name"),
        expr("substring(repeat('ACGT', 30), CAST(k % 4 AS INT) + 1, " +
          "CAST(k % 97 AS INT) + 3)").as("seq"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x40_$sfTag.fasta"
    Fasta.write(seqs, out, width = 60)
    // session clone: shrink split size so the one file reads as several
    // splits without disturbing the shared session's conf
    val s2 = s.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    s2.conf.set("spark.sql.files.openCostInBytes", "0")
    val back = Fasta.read(s2, out)
    require(back.rdd.getNumPartitions > 1,
      "x40: FASTA scan must fan out over multiple input splits")
    back.select(col("name"), length(col("seq")).cast("long").as("len"),
        (length(col("seq")) -
          length(translate(col("seq"), "GC", ""))).cast("long").as("gc"))
      .withColumn("gc_permille", expr("(1000 * gc) div len"))
      .orderBy("name")
  }

  val x40Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_partkey % 300 AS k FROM lineitem
      |  WHERE l_orderkey % 21 = 6),
      |sq AS (SELECT
      |    'seq' || lpad(CAST(k AS VARCHAR), 5, '0') AS name,
      |    substr(repeat('ACGT', 30), CAST(k % 4 AS INTEGER) + 1,
      |      CAST(k % 97 AS INTEGER) + 3) AS seq
      |  FROM li),
      |m AS (SELECT name, CAST(len(seq) AS BIGINT) AS len,
      |    CAST(len(seq) - len(replace(replace(seq, 'G', ''), 'C', ''))
      |      AS BIGINT) AS gc
      |  FROM sq)
      |SELECT name, len, gc, (1000 * gc) // len AS gc_permille
      |FROM m ORDER BY name""".stripMargin

  // ---------------------------------------------------------------- x41
  /** INDEXED-BAM workflow gate — the x24 composition re-rooted on the
    * INDEX: where x24 chains stages over a full-file scan, every
    * downstream stage here consumes a REGION the `.gai` index serves
    * from the sorted artifact, because that is how a 100 TB cohort is
    * actually analyzed (nobody full-scans the file to ask about one
    * locus). One pass: unsorted cohort → [[graft.sources.BamWriter
    * .sortAndWrite]] → `.gai` build → region scan through the `bam`
    * DSv2 (byte-run accounting proves the index pruned a majority of
    * the file — `pruned_ok`, x16's audit) → PCR markdup
    * ([[MitoQueries.markDuplicates]]) on the region reads → dup-filtered
    * geometry → [[targetCoverage]] (x33's sweep + exactly-once binned
    * intersect) against synthesized capture targets. Fragment
    * signatures are functions of (contig, start) alone, so kept
    * geometry ≡ distinct starts and the whole chain is closed-form.
    *
    * Scale shape: the region scan decodes only index-selected byte
    * runs; markdup shuffles one uniform signature key over REGION-sized
    * data; the sweep and intersect are x33's bucketed shapes. Nothing
    * touches the file's full extent after the one-time sort+index. */
  def x41IndexedWorkflow(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamIndex, BamWriter, HadoopIO, SamFilters}
    val (lo, hi) = (1001, 2000)
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 18 === 5)
    val st = ((col("l_partkey") * 977) % 5000 + 1).cast("int")
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey"))
        .as("readName"),
      lit(99).as("flag"),
      when(col("l_suppkey") % 3 === 0, "chr2")
        .when(col("l_suppkey") % 3 === 1, "chr1")
        .otherwise("chrM").as("referenceName"),
      st.as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      (st + 500).as("pnext"), lit(500).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val refs = Seq("chr2" -> 200000, "chr1" -> 200000, "chrM" -> 16569)
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x41_$sfTag.bam"
    BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n" +
        refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString,
      refs, out, numPartitions = 8)
    val conf = HadoopIO.driverConf()
    BamIndex.build(out, conf)
    // index-servability audit: the region's byte runs must be a minority
    // of the file (task-metadata-sized driver arithmetic, like x16)
    val stats = BamIndex.read(out, conf)
    val preds = Seq(SamFilters.RefNameEq("chr1"),
      SamFilters.IntCmp("start", ">=", lo.toLong),
      SamFilters.IntCmp("start", "<=", hi.toLong))
    val runs = BamIndex.selectRuns(stats, preds,
      refs.map(_._1).toArray, 0L, Long.MaxValue)
    val fileLen = HadoopIO.lenAndMtime(out, conf).get._1
    val keptBytes = runs.map { case (b, _, e) =>
      (if (e == Long.MaxValue) fileLen else e) - b
    }.sum
    val prunedOk = runs.nonEmpty && keptBytes * 2 < fileLen
    // the workflow INPUT is the .bam artifact: an index-served region scan
    val region = s.read.format("bam").load(out)
      .where(col("referenceName") === "chr1" &&
        col("start") >= lo && col("start") <= hi)
    val kept = MitoQueries.markDuplicates(region)
      .where(col("flag").bitwiseAND(lit(1024)) === 0)
    val geo = kept.select(col("referenceName").as("contig"),
        col("start").cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val targets = li.where(col("l_linenumber") % 2 === 1).select(
        lit("chr1").as("contig"),
        ((col("l_suppkey") * 7 % 40) * 25 + 1001).cast("long").as("start"))
      .withColumn("end", col("start") + 30L).distinct()
    val tc = targetCoverage(geo, targets, minDepth = 2L, binWidth = 64,
      bucketWidth = 512L)
    requireBucketedSweep(tc, "x41")
    tc.crossJoin(
        region.agg(count(lit(1)).as("n_region"))
          .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
          .select(col("n_region"), col("n_kept"),
            lit(prunedOk).as("pruned_ok")))
      .orderBy("contig", "start_pos")
  }

  /** Oracle replay: region rows from the synthesis arithmetic, kept ≡
    * distinct starts, per-base depth ≥ 2 counting inside each target. */
  val x41Sql: String =
    """WITH sl AS (
      |  SELECT CASE WHEN l_suppkey % 3 = 0 THEN 'chr2'
      |              WHEN l_suppkey % 3 = 1 THEN 'chr1'
      |              ELSE 'chrM' END AS contig,
      |    (l_partkey * 977) % 5000 + 1 AS st, l_linenumber, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 18 = 5),
      |reg AS (SELECT st FROM sl
      |  WHERE contig = 'chr1' AND st BETWEEN 1001 AND 2000),
      |r AS (SELECT DISTINCT st FROM reg),
      |p AS (SELECT unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT pos FROM p GROUP BY pos HAVING COUNT(*) >= 2),
      |t AS (SELECT DISTINCT (l_suppkey * 7 % 40) * 25 + 1001 AS st,
      |    (l_suppkey * 7 % 40) * 25 + 1031 AS en
      |  FROM sl WHERE l_linenumber % 2 = 1),
      |cov AS (SELECT t.st, t.en, COUNT(dep.pos) AS covered
      |  FROM t LEFT JOIN dep ON dep.pos >= t.st AND dep.pos < t.en
      |  GROUP BY t.st, t.en)
      |SELECT 'chr1' AS contig, CAST(st AS BIGINT) AS start_pos,
      |  CAST(en AS BIGINT) AS end_pos, CAST(covered AS BIGINT) AS covered,
      |  (1000 * CAST(covered AS BIGINT)) // (en - st) AS pct_milli,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM reg) AS n_region,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_kept,
      |  true AS pruned_ok
      |FROM cov ORDER BY contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x42
  /** Canonical K-MER SPECTRUM — the workhorse of alignment-free genomics
    * (Jellyfish/KMC's core; genome-size estimation, contamination
    * screens, assembly QC all start here): every k-length window of
    * every sequence, counted STRAND-NEUTRALLY by collapsing each k-mer
    * with its reverse complement to the lexicographic minimum (a read
    * can come off either strand, so ACGT-strand counts alone are
    * biased). Pure narrow kernels: one `transform` slice per sequence
    * (len−k+1 windows), `least(kmer, reverse(translate(...)))` for the
    * canonical form, then one uniform hash aggregate whose key space is
    * ≤ 4^k/2 — map-side combine collapses everything before the
    * exchange, so the shuffle is dictionary-sized regardless of corpus
    * size.
    *
    * Scale shape: linear explode (the same fan-out every shingling op
    * here pays), no window, no join; for k ≤ 16 the canonical form
    * could pack into an int64 two-bits-per-base — the string form keeps
    * the gate oracle-identical and the agg profile is unchanged. */
  def kmerSpectrum(seqs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 32, s"k=$k outside the sane k-mer range")
    seqs.where(length(col("seq")) >= k)
      .select(explode(expr(
        s"transform(sequence(1, length(seq) - ${k - 1}), " +
          s"i -> substring(seq, i, $k))")).as("kmer"))
      .withColumn("canon", least(col("kmer"),
        reverse(translate(col("kmer"), "ACGT", "TGCA"))))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n"))
  }

  /** Driver gate: rotated 8-base-pattern sequences written to a FASTA
    * artifact and read BACK through [[graft.sources.Fasta]] — the
    * spectrum consumes the source's output, not the synthesis frame, so
    * the scan→kernel contract is what's gated (x40 gates the round-trip
    * itself). Oracle reconstructs the sequences arithmetically. */
  def x42KmerSpectrum(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{Fasta, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 22 === 9)
    val seqs = li.select((col("l_partkey") % 320).cast("long").as("kk"))
      .distinct()
      .select(
        concat(lit("s"), lpad(col("kk").cast("string"), 5, "0")).as("name"),
        expr("substring(repeat('ACGGTCAT', 16), CAST(kk % 8 AS INT) + 1, " +
          "CAST(kk % 89 AS INT) + 2)").as("seq"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x42_$sfTag.fasta"
    Fasta.write(seqs, out, width = 50)
    kmerSpectrum(Fasta.read(s, out), 4).orderBy("canon")
  }

  val x42Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_partkey % 320 AS kk FROM lineitem
      |  WHERE l_orderkey % 22 = 9),
      |sq AS (SELECT substr(repeat('ACGGTCAT', 16),
      |    CAST(kk % 8 AS INTEGER) + 1, CAST(kk % 89 AS INTEGER) + 2) AS seq
      |  FROM li),
      |km AS (SELECT unnest(list_transform(range(1, len(seq) - 2),
      |    i -> substr(seq, CAST(i AS INTEGER), 4))) AS kmer
      |  FROM sq WHERE len(seq) >= 4)
      |SELECT least(kmer, reverse(translate(kmer, 'ACGT', 'TGCA'))) AS canon,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM km GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- x43
  /** LIFTOVER — remap intervals between genome assemblies through chain
    * blocks (UCSC `liftOver`: every variant database, every cross-build
    * comparison runs this): a query interval FULLY CONTAINED in one
    * source block `[bst, ben)` maps to the destination by the block's
    * affine shift; a query straddling a block edge or landing in a gap
    * is UNMAPPED (null destination, the tool's reject file) rather than
    * silently split. Chain blocks must be non-overlapping on the source
    * side (the chain-file invariant) — overlap would fan one query to
    * two rows; callers own that contract, as with targetCoverage's
    * distinct targets.
    *
    * Scale shape: the query⋈block containment rides the shared
    * exactly-once binned equi-join ([[binnedOverlapPairs]], destination
    * columns carried through its payload pass-through) — uniform
    * (contig, bin) keys, no per-contig funnel, no nested loop (plan
    * `require`); unmapped rows come back through one left join keyed on
    * the query identity. The chain is typically dimension-sized but
    * nothing here assumes it: both sides stream through the same binned
    * exchange. */
  def liftOver(queriesDf: DataFrame, chain: DataFrame,
      binWidth: Int): DataFrame = {
    val q = queriesDf.select(col("contig"), col("start"), col("end"))
      .distinct()
    val mapped = binnedOverlapPairs(q, chain, binWidth,
        bExtra = Seq("dst_contig", "dst_start"))
      .where(col("a_start") >= col("b_start") &&
        col("a_end") <= col("b_end"))
      .select(col("contig"), col("a_start").as("start"),
        col("a_end").as("end"), col("dst_contig"),
        (col("dst_start") + col("a_start") - col("b_start"))
          .as("lift_start"),
        (col("dst_start") + col("a_end") - col("b_start")).as("lift_end"))
    q.join(mapped, Seq("contig", "start", "end"), "left")
      .select(col("contig"), col("start").as("start_pos"),
        col("end").as("end_pos"), col("dst_contig"),
        col("lift_start"), col("lift_end"))
  }

  /** Driver gate: 12 chain tiles of width 90 every 100 bases per contig
    * (10-base gaps), queries of width 8 — contained iff start%100 ≤ 82,
    * so mapped and unmapped rows both occur and the whole frame is
    * closed-form. */
  def x43LiftOver(s: SparkSession, d: String): DataFrame = {
    val chain = s.range(12).select(
        explode(array(lit("chr1"), lit("chrM"))).as("contig"), col("id"))
      .select(col("contig"), (col("id") * 100).as("start"),
        (col("id") * 100 + 90).as("end"),
        concat(lit("c"), (col("id") % 3).cast("string")).as("dst_contig"),
        (col("id") * 100 + 5000 + col("id") * 7).as("dst_start"))
    val q = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 11)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") * 13 % 1180) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 8L)
    liftOver(q, chain, binWidth = 64)
      .orderBy("contig", "start_pos")
  }

  val x43Sql: String =
    """WITH ch AS (
      |  SELECT c.contig, i * 100 AS bst, i * 100 + 90 AS ben,
      |    'c' || CAST(i % 3 AS VARCHAR) AS dst_contig,
      |    i * 100 + 5000 + i * 7 AS dst_start
      |  FROM (SELECT unnest(range(0, 12)) AS i),
      |       (SELECT unnest(['chr1', 'chrM']) AS contig) c),
      |q AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey * 13 % 1180) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 23 = 11)
      |SELECT q.contig, CAST(q.st AS BIGINT) AS start_pos,
      |  CAST(q.st + 8 AS BIGINT) AS end_pos, ch.dst_contig,
      |  CAST(ch.dst_start + (q.st - ch.bst) AS BIGINT) AS lift_start,
      |  CAST(ch.dst_start + (q.st + 8 - ch.bst) AS BIGINT) AS lift_end
      |FROM q LEFT JOIN ch ON q.contig = ch.contig
      |  AND q.st >= ch.bst AND q.st + 8 <= ch.ben
      |ORDER BY q.contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x44
  /** PAIRWISE RELATEDNESS tallies (KING / `plink --genome` shape) — the
    * cohort-QC step that catches sample swaps, duplicates, and cryptic
    * relatives before any association analysis: for every sample pair,
    * over sites where BOTH are called, count identity-by-state classes
    * (IBS0 = opposite homozygotes, IBS1, IBS2), double-heterozygous
    * sites, and per-side het totals — the sufficient statistics of the
    * KING-robust kinship estimator φ = (N_AaAa − 2·N_IBS0)/(N_Aa,i +
    * N_Aa,j). Numerator terms are emitted RAW rather than as the ratio:
    * the estimator is a driver-side division over dimension-sized
    * output, and integer division of a possibly-negative numerator is
    * exactly where engine semantics diverge (truncate vs floor).
    *
    * Scale shape: one self-equi-join on the uniform high-cardinality
    * (contig, pos) site key — never on sample, whose cardinality is the
    * PAIR fan-out bound (S² rows per site; cohorts are dimension-sized
    * next to sites, the same contract as x26's tree) — then one
    * (sample_i, sample_j)-keyed map-side-combinable aggregate. */
  def kinshipTallies(gt: DataFrame): DataFrame = {
    val a = gt.select(col("contig"), col("pos"),
      col("sample").as("sample_i"), col("g").as("gi"))
    val b = gt.select(col("contig"), col("pos"),
      col("sample").as("sample_j"), col("g").as("gj"))
    a.join(b, Seq("contig", "pos"))
      .where(col("sample_i") < col("sample_j"))
      .where(col("gi").isNotNull && col("gj").isNotNull)
      .groupBy(col("sample_i"), col("sample_j"))
      .agg(count(lit(1)).as("n_sites"),
        sum((abs(col("gi") - col("gj")) === 2).cast("long")).as("ibs0"),
        sum((abs(col("gi") - col("gj")) === 1).cast("long")).as("ibs1"),
        sum((col("gi") === col("gj")).cast("long")).as("ibs2"),
        sum((col("gi") === 1 && col("gj") === 1).cast("long"))
          .as("n_both_het"),
        sum((col("gi") === 1).cast("long")).as("n_het_i"),
        sum((col("gj") === 1).cast("long")).as("n_het_j"))
      .orderBy("sample_i", "sample_j")
  }

  /** Driver gate: x36's site synthesis with 4 samples and a 5-class
    * dosage code whose classes 3/4 map to uncalled — missingness, all
    * three IBS classes, and het asymmetry are all populated. */
  def x44KinshipTallies(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 24 === 13)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 450) * 3 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(
        Seq(("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L)))
      .toDF("sample", "sj")
    val code = (col("pos") * 7 + col("sj") * 5) % 5
    val gt = sites.crossJoin(broadcast(dim))
      .select(col("contig"), col("pos"), col("sample"),
        when(code < 3, code).otherwise(lit(null)).cast("long").as("g"))
    kinshipTallies(gt)
  }

  val x44Sql: String =
    """WITH sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 450) * 3 + 1 AS pos
      |  FROM lineitem WHERE l_orderkey % 24 = 13),
      |dim AS (SELECT * FROM (VALUES ('s0', 0), ('s1', 1), ('s2', 2),
      |    ('s3', 3)) AS t(sample, sj)),
      |gt AS (SELECT contig, pos, sample,
      |    CASE WHEN (pos * 7 + sj * 5) % 5 < 3
      |         THEN (pos * 7 + sj * 5) % 5 END AS g
      |  FROM sites, dim),
      |p AS (SELECT a.sample AS sample_i, b.sample AS sample_j,
      |    a.g AS gi, b.g AS gj
      |  FROM gt a JOIN gt b ON a.contig = b.contig AND a.pos = b.pos
      |  WHERE a.sample < b.sample AND a.g IS NOT NULL AND b.g IS NOT NULL)
      |SELECT sample_i, sample_j, CAST(COUNT(*) AS BIGINT) AS n_sites,
      |  CAST(SUM(CASE WHEN abs(gi - gj) = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ibs0,
      |  CAST(SUM(CASE WHEN abs(gi - gj) = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ibs1,
      |  CAST(SUM(CASE WHEN gi = gj THEN 1 ELSE 0 END) AS BIGINT) AS ibs2,
      |  CAST(SUM(CASE WHEN gi = 1 AND gj = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_both_het,
      |  CAST(SUM(CASE WHEN gi = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_i,
      |  CAST(SUM(CASE WHEN gj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_j
      |FROM p GROUP BY sample_i, sample_j
      |ORDER BY sample_i, sample_j""".stripMargin

  // ---------------------------------------------------------------- x45
  /** RUNS OF HOMOZYGOSITY (`bcftools roh` / `plink --homozyg` site-based
    * core) — consanguinity and autozygosity mapping: per (sample,
    * contig), maximal runs of consecutive CALLED sites that are all
    * homozygous (dosage 0 or 2); a heterozygous call breaks the run,
    * an uncalled site is invisible. Runs shorter than `minSites` drop
    * (every ROH tool thresholds — single-site "runs" are noise).
    *
    * The island id of a homozygous call is simply the COUNT OF HET
    * CALLS BEFORE IT in (sample, contig, pos) order — a prefix sum, so
    * the whole operator rides [[boundaryPrefixScan]] (delta = 1 for
    * het, 0 for hom: the inclusive cum at a hom row equals the
    * exclusive het count) with (sample ‖ contig) as the composite sweep
    * key. No flat per-sample window anywhere: level 1 is (key, bucket)-
    * windowed, level 2 runs over bucket summaries, and the final
    * min/max/count per (key, island) is a uniform hash aggregate.
    * Assumes distinct (sample, contig, pos) rows — the targetCoverage
    * contract. */
  def rohRuns(gt: DataFrame, minSites: Long,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val called = gt.where(col("g").isNotNull)
      .select(concat(col("sample"), lit("|"), col("contig")).as("contig"),
        col("pos"), (col("g") === 1).cast("long").as("delta"))
    boundaryPrefixScan(called, bucketWidth)
      .where(col("delta") === 0)
      .groupBy(col("contig"), col("depth"))
      .agg(min(col("pos")).as("run_start"), max(col("pos")).as("run_end"),
        count(lit(1)).as("n_sites"))
      .where(col("n_sites") >= minSites)
      .select(substring_index(col("contig"), "|", 1).as("sample"),
        substring_index(col("contig"), "|", -1).as("contig"),
        col("run_start"), col("run_end"), col("n_sites"))
  }

  /** Driver gate: x36-style sites with 2 samples and a 4-class code
    * (0/2 hom, 1 het, 3 uncalled) — runs, breaks, and invisible missing
    * sites all populated; 512-wide buckets force multi-bucket runs. */
  def x45RohRuns(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 25 === 17)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 500) * 2 + 1).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(("s0", 0L), ("s1", 1L)))
      .toDF("sample", "sj")
    // pos is always odd — key the class cycle off pos div 2 so BOTH
    // samples rotate through it; a period-8 cycle of 6 homs, one het,
    // one uncalled yields multi-site runs at DENSE site coverage (sf0.1
    // fills every slot: runs of 6) while sparse coverage fragments them
    // below minSites, so the threshold genuinely filters at every SF
    val code = (expr("pos div 2") + col("sj")) % 8
    val gt = sites.crossJoin(broadcast(dim))
      .select(col("sample"), col("contig"), col("pos"),
        when(code < 6, code % 2 * 2) // 6 homs, alternating 0/2 dosage
          .when(code === 6, lit(1L)) // one het: the run breaker
          .otherwise(lit(null)).cast("long").as("g"))
    val r = rohRuns(gt, minSites = 3L, bucketWidth = 512L)
      .orderBy("sample", "contig", "run_start")
    requireBucketedSweep(r, "x45")
    r
  }

  val x45Sql: String =
    """WITH sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 500) * 2 + 1 AS pos
      |  FROM lineitem WHERE l_orderkey % 25 = 17),
      |dim AS (SELECT * FROM (VALUES ('s0', 0), ('s1', 1)) AS t(sample, sj)),
      |gt AS (SELECT sample, contig, pos,
      |    CASE WHEN ((pos // 2) + sj) % 8 < 6
      |           THEN (((pos // 2) + sj) % 8) % 2 * 2
      |         WHEN ((pos // 2) + sj) % 8 = 6 THEN 1 END AS g
      |  FROM sites, dim),
      |c AS (SELECT sample, contig, pos, g,
      |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY sample, contig ORDER BY pos
      |      ROWS UNBOUNDED PRECEDING) AS isl
      |  FROM gt WHERE g IS NOT NULL)
      |SELECT sample, contig, CAST(MIN(pos) AS BIGINT) AS run_start,
      |  CAST(MAX(pos) AS BIGINT) AS run_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_sites
      |FROM c WHERE g <> 1 GROUP BY sample, contig, isl
      |HAVING COUNT(*) >= 3 ORDER BY sample, contig, run_start""".stripMargin

  // ---------------------------------------------------------------- x46
  /** REFERENCE TILES — the scale-safe carrier of genome sequence into
    * per-locus joins: a chromosome is a quarter-gigabyte string, so
    * "broadcast the reference" dies exactly when the data gets big;
    * instead each sequence explodes into fixed-width tiles overhung by
    * `flank` bases on each side, and any per-position lookup becomes a
    * uniform (contig, tile) EQUI-join against kilobyte-sized rows. The
    * flank makes every window of width ≤ 2·flank+1 fully resolvable
    * inside one tile — no cross-tile stitching in the consumer. */
  def refTiles(refs: DataFrame, tileWidth: Int, flank: Int): DataFrame =
    refs.select(col("name").as("contig"), col("seq"))
      .withColumn("tile", explode(expr(
        s"sequence(0L, CAST((length(seq) - 1) div $tileWidth AS BIGINT))")))
      .withColumn("tile_off",
        greatest(col("tile") * tileWidth + 1 - flank, lit(1L)))
      .select(col("contig"), col("tile"), col("tile_off"),
        expr(s"substring(seq, CAST(tile_off AS INT), " +
          s"$tileWidth + ${2 * flank})").as("tile_str"))

  /** TRINUCLEOTIDE MUTATION CONTEXT (the SBS-96 normalization every
    * mutational-signature analysis starts from — COSMIC signatures,
    * SigProfiler): each SNV is annotated with the reference base ±1
    * around it (ref comes FROM THE REFERENCE, the standard sanity
    * discipline — caller-supplied ref columns drift), then collapsed to
    * the pyrimidine-strand class `5'[ref>alt]3'` — purine-centered
    * contexts reverse-complement so C·G-strand symmetry is factored
    * out. Edge positions whose window leaves the sequence drop.
    *
    * Scale shape: variants join [[refTiles]] on the uniform
    * (contig, tile) key — corpus-sized × tile-dimension, no broadcast
    * of chromosome strings, no window; the class tally is one
    * ≤ 96-key map-side-combinable aggregate. */
  def trinucContexts(variants: DataFrame, tiles: DataFrame,
      tileWidth: Int): DataFrame = {
    val joined = variants
      .where(col("pos") >= 2)
      .withColumn("tile", expr(s"(pos - 1) div $tileWidth"))
      .join(tiles, Seq("contig", "tile"))
      .withColumn("ctx", expr(
        "substring(tile_str, CAST(pos - tile_off AS INT), 3)"))
      .where(length(col("ctx")) === 3)
      .withColumn("ref", substring(col("ctx"), 2, 1))
    val rc = reverse(translate(col("ctx"), "ACGT", "TGCA"))
    joined.withColumn("sbs_class",
        when(col("ref").isin("C", "T"),
          concat(substring(col("ctx"), 1, 1), lit("["), col("ref"),
            lit(">"), col("alt"), lit("]"), substring(col("ctx"), 3, 1)))
          .otherwise(concat(substring(rc, 1, 1), lit("["),
            translate(col("ref"), "ACGT", "TGCA"), lit(">"),
            translate(col("alt"), "ACGT", "TGCA"), lit("]"),
            substring(rc, 3, 1))))
      .select(col("contig"), col("pos"), col("alt"), col("ctx"),
        col("sbs_class"))
  }

  /** Driver gate: two rotated-pattern reference contigs, SNVs at
    * lineitem-derived positions with mod-4 alt alleles; tiles 64 wide
    * with flank 1, so contexts straddle tile edges and both the
    * pyrimidine and revcomp branches populate. */
  def x46TrinucSpectrum(s: SparkSession, d: String): DataFrame = {
    val refs = s.createDataFrame(Seq(("c0", 0, 400), ("c1", 3, 389)))
      .toDF("name", "sh", "len")
      .select(col("name"),
        expr("substring(repeat('ACGGTCAT', 64), sh + 1, len)").as("seq"))
    val tiles = refTiles(refs, tileWidth = 64, flank = 1)
    val v = Tables.lineitem(s, d).where(col("l_orderkey") % 26 === 19)
      .select(
        when(col("l_suppkey") % 2 === 0, "c0").otherwise("c1").as("contig"),
        ((col("l_partkey") * 7 % 387) + 2).cast("long").as("pos"),
        expr("substring('ACGT', CAST(l_partkey % 4 AS INT) + 1, 1)")
          .as("alt"))
      .distinct()
    trinucContexts(v, tiles, tileWidth = 64)
      .groupBy(col("sbs_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy("sbs_class")
  }

  val x46Sql: String =
    """WITH refs AS (SELECT * FROM (VALUES ('c0', 0, 400), ('c1', 3, 389))
      |    AS t(contig, sh, len)),
      |sq AS (SELECT contig,
      |    substr(repeat('ACGGTCAT', 64), sh + 1, len) AS seq FROM refs),
      |v AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'c0' ELSE 'c1' END AS contig,
      |    (l_partkey * 7 % 387) + 2 AS pos,
      |    substr('ACGT', CAST(l_partkey % 4 AS INTEGER) + 1, 1) AS alt
      |  FROM lineitem WHERE l_orderkey % 26 = 19),
      |cx AS (SELECT v.contig, v.pos, v.alt,
      |    substr(seq, CAST(v.pos - 1 AS INTEGER), 3) AS ctx
      |  FROM v JOIN sq ON v.contig = sq.contig
      |  WHERE len(substr(seq, CAST(v.pos - 1 AS INTEGER), 3)) = 3),
      |cls AS (SELECT CASE WHEN substr(ctx, 2, 1) IN ('C', 'T')
      |    THEN substr(ctx, 1, 1) || '[' || substr(ctx, 2, 1) || '>' ||
      |      alt || ']' || substr(ctx, 3, 1)
      |    ELSE substr(reverse(translate(ctx, 'ACGT', 'TGCA')), 1, 1) ||
      |      '[' || translate(substr(ctx, 2, 1), 'ACGT', 'TGCA') || '>' ||
      |      translate(alt, 'ACGT', 'TGCA') || ']' ||
      |      substr(reverse(translate(ctx, 'ACGT', 'TGCA')), 3, 1) END
      |    AS sbs_class
      |  FROM cx)
      |SELECT sbs_class, CAST(COUNT(*) AS BIGINT) AS n
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- x47
  /** FAIDX gate — pins [[graft.sources.Fasta.writeFai]] +
    * [[graft.sources.Fasta.fetchRegions]]: the `.fai` is computed from
    * the writer's closed-form layout (never by scanning the file), and
    * regions are then served by positioned byte reads through that
    * index — the x05/x16 pruning discipline on the second sequence
    * format. Wrapped at width 25 so every fetched region crosses line
    * boundaries and the newline-stripping byte math is what's proved;
    * regions whose end exceeds the record length drop (faidx
    * out-of-range behavior), so the oracle's WHERE replays the filter. */
  def x47FaidxRegions(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{Fasta, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 27 === 16)
    val keyed = li.select((col("l_partkey") % 280).cast("long").as("kk"),
      ((col("l_suppkey") * 3) % 40 + 2).cast("long").as("start"))
    val seqs = keyed.select(col("kk")).distinct()
      .select(
        concat(lit("r"), lpad(col("kk").cast("string"), 5, "0")).as("name"),
        expr("substring(repeat('ACGGTCAT', 20), CAST(kk % 8 AS INT) + 1, " +
          "CAST(kk % 67 AS INT) + 30)").as("seq"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val fa = s"${HadoopIO.scratchDir(s)}/graft_x47_$sfTag.fasta"
    val fai = fa + ".fai"
    Fasta.write(seqs, fa, width = 25)
    Fasta.writeFai(seqs, fai, width = 25)
    val regions = keyed.distinct()
      .select(
        concat(lit("r"), lpad(col("kk").cast("string"), 5, "0")).as("name"),
        col("start"), (col("start") + 12L).as("end"))
    Fasta.fetchRegions(s, fa, fai, regions)
      .select(col("name"), col("start").as("start_pos"),
        col("end").as("end_pos"), col("seq"))
      .orderBy("name", "start_pos")
  }

  val x47Sql: String =
    """WITH li AS (SELECT DISTINCT l_partkey % 280 AS kk,
      |    (l_suppkey * 3) % 40 + 2 AS st
      |  FROM lineitem WHERE l_orderkey % 27 = 16),
      |sq AS (SELECT kk, 'r' || lpad(CAST(kk AS VARCHAR), 5, '0') AS name,
      |    substr(repeat('ACGGTCAT', 20), CAST(kk % 8 AS INTEGER) + 1,
      |      CAST(kk % 67 AS INTEGER) + 30) AS seq
      |  FROM (SELECT DISTINCT kk FROM li)),
      |j AS (SELECT sq.name, li.st, li.st + 12 AS en,
      |    substr(sq.seq, CAST(li.st AS INTEGER), 13) AS seq
      |  FROM li JOIN sq ON li.kk = sq.kk
      |  WHERE li.st + 12 <= len(sq.seq))
      |SELECT name, CAST(st AS BIGINT) AS start_pos,
      |  CAST(en AS BIGINT) AS end_pos, seq
      |FROM j ORDER BY name, start_pos""".stripMargin

  // ---------------------------------------------------------------- x48
  /** CALLABLE-LOCI classification (GATK CallableLoci) — the map every
    * variant-calling QC report leads with: each covered base is LOW_
    * COVERAGE (depth < minDepth), CALLABLE, or EXCESSIVE (depth >
    * maxDepth, the collapsed-repeat signal), and same-class neighbors
    * merge into maximal regions. Classification coarsens x18's
    * constant-depth segments, so adjacent segments can share a class —
    * but the merge needs NO window pass: merged-region count =
    * segment count − same-class adjacencies, and an adjacency is an
    * EQUI-join of `end_pos` against `start_pos` on the uniform
    * (contig, position) key (depth-0 gaps break adjacency by
    * construction since gap segments don't exist). Base mass is
    * merge-invariant. Output: per (contig, class) region count + bases.
    *
    * Scale shape: x18's two-level sweep + one self-equi-join on
    * segment boundaries + two uniform aggregates. */
  def callableLoci(reads: DataFrame, minDepth: Long, maxDepth: Long,
      bucketWidth: Long = 1L << 20): DataFrame = {
    val segs = coverageIntervals(reads, bucketWidth)
      .withColumn("cls",
        when(col("depth") < minDepth, "LOW_COVERAGE")
          .when(col("depth") > maxDepth, "EXCESSIVE")
          .otherwise("CALLABLE"))
    val joints = segs
      .select(col("contig"), col("end_pos").as("pos"), col("cls"))
      .join(segs.select(col("contig"), col("start_pos").as("pos"),
        col("cls").as("cls_next")), Seq("contig", "pos"))
      .where(col("cls") === col("cls_next"))
      .groupBy(col("contig"), col("cls"))
      .agg(count(lit(1)).as("n_joints"))
    segs.groupBy(col("contig"), col("cls"))
      .agg(count(lit(1)).as("n_raw"),
        sum(col("end_pos") - col("start_pos")).as("bases"))
      .join(joints, Seq("contig", "cls"), "left")
      .select(col("contig"), col("cls"),
        (col("n_raw") - coalesce(col("n_joints"), lit(0L))).as("n_regions"),
        col("bases"))
  }

  /** Driver gate: x18's read synthesis at a density where all three
    * classes occur; oracle replays per-base with a gaps-and-islands
    * window over (position adjacency ∧ class equality). */
  def x48CallableLoci(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 28 === 21)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 380) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val r = callableLoci(reads, minDepth = 2L, maxDepth = 3L,
        bucketWidth = 512L)
      .orderBy("contig", "cls")
    requireBucketedSweep(r, "x48")
    r
  }

  val x48Sql: String =
    """WITH r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 380) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 28 = 21),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r),
      |dep AS (SELECT contig, pos, COUNT(*) AS d FROM p GROUP BY 1, 2),
      |cl AS (SELECT contig, pos,
      |    CASE WHEN d < 2 THEN 'LOW_COVERAGE'
      |         WHEN d > 3 THEN 'EXCESSIVE' ELSE 'CALLABLE' END AS cls
      |  FROM dep),
      |isl AS (SELECT contig, pos, cls,
      |    CASE WHEN lag(pos) OVER w = pos - 1 AND lag(cls) OVER w = cls
      |         THEN 0 ELSE 1 END AS brk
      |  FROM cl WINDOW w AS (PARTITION BY contig ORDER BY pos))
      |SELECT contig, cls, CAST(SUM(brk) AS BIGINT) AS n_regions,
      |  CAST(COUNT(*) AS BIGINT) AS bases
      |FROM isl GROUP BY contig, cls ORDER BY contig, cls""".stripMargin

  // ---------------------------------------------------------------- x49
  /** BED ROUNDTRIP gate — pins [[graft.sources.Bed]] feeding the
    * interval algebra: x29's interval synthesis writes to one BED file
    * (with a `track` header line the reader must skip), scans back
    * through forced multi-splits (a `require` pins the fan-out), and
    * the scanned frame — not the synthesis — drives [[intervalMerge]].
    * The oracle is x29's per-base island replay on the same arithmetic,
    * so any corruption in the write/scan/skip path flips the merge. */
  def x49BedRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{Bed, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 29 === 12)
    val ivs = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 260) * 20 + 1).cast("long").as("start"),
        (col("l_linenumber") % 3 * 15 + 5).cast("long").as("len"))
      .withColumn("end", col("start") + col("len"))
      .drop("len").distinct()
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x49_$sfTag.bed"
    Bed.write(ivs, out, header = Seq("track name=graft_x49"))
    val s2 = s.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    s2.conf.set("spark.sql.files.openCostInBytes", "0")
    val back = Bed.read(s2, out).select("contig", "start", "end")
    require(back.rdd.getNumPartitions > 1,
      "x49: BED scan must fan out over multiple input splits")
    val r = intervalMerge(back, bucketWidth = 512L)
      .orderBy("contig", "start_pos")
    requireBucketedSweep(r, "x49")
    r
  }

  val x49Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig, (l_partkey % 260) * 20 + 1 AS st,
      |    (l_linenumber % 3) * 15 + 5 AS len
      |  FROM lineitem WHERE l_orderkey % 29 = 12),
      |p AS (SELECT DISTINCT contig,
      |    unnest(generate_series(st, st + len - 1)) AS pos FROM r),
      |g AS (SELECT contig, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY contig ORDER BY pos) AS grp
      |  FROM p)
      |SELECT contig, CAST(MIN(pos) AS BIGINT) AS start_pos,
      |  CAST(MAX(pos) + 1 AS BIGINT) AS end_pos
      |FROM g GROUP BY contig, grp ORDER BY contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x50
  /** DEPTH UNIFORMITY metrics (Picard HsMetrics' FOLD_80_BASE_PENALTY
    * family) — the "is coverage EVEN, not just deep" number that decides
    * whether a capture kit or flowcell run is usable: per contig, mean
    * bucket mass and the rank-based discrete p20/p80 of bucket masses,
    * plus fold-80 = mean / p20 (how much MORE sequencing would push the
    * 20th-percentile bucket to the mean). All integer-milli — the
    * discrete quantile is DEFINED here as the smallest mass whose
    * ascending (mass, bucket) rank reaches ⌈p·n⌉, a rule both engines
    * restate identically (never a library quantile whose interpolation
    * convention might differ).
    *
    * Scale shape: [[bucketDepth]]'s keyed agg, then per-contig windows
    * over BUCKET SUMMARIES — rows bounded by contig_length/bucketWidth
    * (the boundaryPrefixScan level-2 argument), never by read count. */
  def depthUniformity(reads: DataFrame, bucketWidth: Int): DataFrame = {
    val bd = bucketDepth(reads, bucketWidth)
      .select(col("contig"), col("bucket"), col("mass"))
    val byC = Window.partitionBy(col("contig"))
    val wCum = byC.orderBy(col("mass"), col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bd.withColumn("cum", count(lit(1)).over(wCum))
      .withColumn("n", count(lit(1)).over(byC))
      .withColumn("tot", sum(col("mass")).over(byC))
      .groupBy(col("contig"))
      .agg(max(col("n")).as("n_buckets"),
        max(col("tot")).as("total_mass"),
        min(when(col("cum") >= expr("(n + 4) div 5"), col("mass")))
          .as("p20_mass"),
        min(when(col("cum") >= expr("(4 * n + 4) div 5"), col("mass")))
          .as("p80_mass"))
      .withColumn("mean_milli", expr("(1000 * total_mass) div n_buckets"))
      .withColumn("fold80_milli", expr(
        "(1000 * total_mass) div (n_buckets * greatest(p20_mass, 1))"))
  }

  def x50DepthUniformity(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 31 === 7)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 900) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    depthUniformity(reads, bucketWidth = 64).orderBy("contig")
  }

  val x50Sql: String =
    """WITH r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END AS contig,
      |    (l_partkey % 900) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 31 = 7),
      |e AS (SELECT contig, st, st + 10 AS en,
      |    unnest(generate_series(st // 64, (st + 9) // 64)) AS bucket
      |  FROM r),
      |b AS (SELECT contig, bucket,
      |    SUM(LEAST(en, (bucket + 1) * 64) - GREATEST(st, bucket * 64))
      |      AS mass
      |  FROM e GROUP BY contig, bucket),
      |h AS (SELECT contig, bucket, mass,
      |    COUNT(*) OVER (PARTITION BY contig ORDER BY mass, bucket
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    COUNT(*) OVER (PARTITION BY contig) AS n,
      |    SUM(mass) OVER (PARTITION BY contig) AS tot
      |  FROM b)
      |SELECT contig, CAST(MAX(n) AS BIGINT) AS n_buckets,
      |  CAST(MAX(tot) AS BIGINT) AS total_mass,
      |  CAST(MIN(CASE WHEN cum >= (n + 4) // 5 THEN mass END) AS BIGINT)
      |    AS p20_mass,
      |  CAST(MIN(CASE WHEN cum >= (4 * n + 4) // 5 THEN mass END) AS BIGINT)
      |    AS p80_mass,
      |  (1000 * CAST(MAX(tot) AS BIGINT)) // CAST(MAX(n) AS BIGINT)
      |    AS mean_milli,
      |  (1000 * CAST(MAX(tot) AS BIGINT)) // (CAST(MAX(n) AS BIGINT) *
      |    GREATEST(CAST(MIN(CASE WHEN cum >= (n + 4) // 5 THEN mass END)
      |      AS BIGINT), 1)) AS fold80_milli
      |FROM h GROUP BY contig ORDER BY contig""".stripMargin

  // ---------------------------------------------------------------- x51
  /** GC-BIAS metrics (Picard CollectGcBiasMetrics): per GC-content
    * stratum of fixed reference windows, how far observed coverage sits
    * from the corpus mean — THE library-prep diagnostic (PCR
    * amplification depresses GC-extreme windows; a normalized-coverage
    * curve that isn't flat means depth-based callers need correction).
    * Window GC comes from the reference STRING via [[refTiles]] (never a
    * broadcast chromosome); window depth mass is [[bucketDepth]]'s keyed
    * agg; the two meet on the uniform (contig, window) equi-join —
    * windows and buckets coincide because both index 0-based half-open
    * [j·w, (j+1)·w). Uncovered windows count with mass 0 (left join from
    * the reference side — dropping them would bias every stratum up).
    * All ratios are staged integer milli divisions, engine-replayable:
    * mean_mass_milli = (1000·Σmass) div n, norm_permille =
    * (1000·mean_milli) div overall_milli.
    *
    * Scale shape: reference tiles are dimension-small vs reads; the only
    * corpus-sized exchange is bucketDepth's (contig, bucket) hash agg
    * (map-side combinable); the stratum roll-up is ≤ 101 keys. */
  def gcBias(reads: DataFrame, refs: DataFrame, windowWidth: Int): DataFrame = {
    val wins = refTiles(refs, windowWidth, flank = 0)
      .select(col("contig"), col("tile").as("window"), col("tile_str"))
      .withColumn("win_len", length(col("tile_str")))
      .withColumn("gc",
        col("win_len") - length(translate(col("tile_str"), "GC", "")))
      .withColumn("gc_pct", expr("(100 * gc) div win_len"))
      .select(col("contig"), col("window"), col("gc_pct"))
    val mass = bucketDepth(reads, windowWidth)
      .select(col("contig"), col("bucket").as("window"), col("mass"))
    val j = wins.join(mass, Seq("contig", "window"), "left_outer")
      .select(col("gc_pct"), coalesce(col("mass"), lit(0L)).as("mass"))
    val tot = j.agg(sum(col("mass")).as("tot_mass"),
      count(lit(1)).as("n_win"))
    j.groupBy(col("gc_pct"))
      .agg(count(lit(1)).as("n_windows"), sum(col("mass")).as("sum_mass"))
      .crossJoin(broadcast(tot))
      .withColumn("mean_mass_milli", expr("(1000 * sum_mass) div n_windows"))
      .withColumn("norm_permille", expr(
        "(1000 * mean_mass_milli) div greatest((1000 * tot_mass) div n_win, 1)"))
      .select(col("gc_pct"), col("n_windows"), col("mean_mass_milli"),
        col("norm_permille"))
      .orderBy("gc_pct")
  }

  /** Gate synthesis: block-structured references whose window GC cycles
    * 0..8 per 16-base block (so 9 strata populate, including gc=0), and
    * lineitem-derived 12-base reads whose start modulus keeps every read
    * inside the window range of its contig. */
  def x51GcBias(s: SparkSession, d: String): DataFrame = {
    val refs = s.createDataFrame(Seq(("c0", 40), ("c1", 37)))
      .toDF("name", "nb")
      .select(col("name"), expr(
        "array_join(transform(sequence(0, nb - 1), b -> " +
          "concat(repeat('C', CAST(b % 9 AS INT)), " +
          "repeat('A', CAST(16 - b % 9 AS INT)))), '')").as("seq"))
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 29 === 11)
      .select(
        when(col("l_suppkey") % 2 === 0, "c0").otherwise("c1").as("contig"),
        (col("l_partkey") %
          when(col("l_suppkey") % 2 === 0, 624).otherwise(576))
          .cast("long").as("start"))
      .withColumn("end", col("start") + 12L)
    gcBias(reads, refs, windowWidth = 16)
  }

  val x51Sql: String =
    """WITH dims AS (SELECT * FROM (VALUES ('c0', 40), ('c1', 37))
      |    AS t(contig, nb)),
      |wins AS (SELECT contig, unnest(generate_series(0, nb - 1)) AS win
      |  FROM dims),
      |g AS (SELECT contig, win, (100 * (win % 9)) // 16 AS gc_pct
      |  FROM wins),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'c0' ELSE 'c1' END AS contig,
      |    l_partkey % (CASE WHEN l_suppkey % 2 = 0 THEN 624 ELSE 576 END)
      |      AS st
      |  FROM lineitem WHERE l_orderkey % 29 = 11),
      |e AS (SELECT contig, st, st + 12 AS en,
      |    unnest(generate_series(st // 16, (st + 11) // 16)) AS win
      |  FROM r),
      |m AS (SELECT contig, win,
      |    SUM(LEAST(en, (win + 1) * 16) - GREATEST(st, win * 16)) AS mass
      |  FROM e GROUP BY contig, win),
      |j AS (SELECT g.gc_pct, COALESCE(m.mass, 0) AS mass
      |  FROM g LEFT JOIN m ON g.contig = m.contig AND g.win = m.win),
      |tot AS (SELECT SUM(mass) AS tot_mass, COUNT(*) AS n_win FROM j)
      |SELECT CAST(gc_pct AS BIGINT) AS gc_pct,
      |  CAST(COUNT(*) AS BIGINT) AS n_windows,
      |  CAST((1000 * SUM(mass)) // COUNT(*) AS BIGINT) AS mean_mass_milli,
      |  CAST((1000 * ((1000 * SUM(mass)) // COUNT(*))) //
      |    GREATEST((1000 * MAX(tot.tot_mass)) // MAX(tot.n_win), 1)
      |    AS BIGINT) AS norm_permille
      |FROM j, tot GROUP BY gc_pct ORDER BY gc_pct""".stripMargin

  // ---------------------------------------------------------------- x52
  /** CONSENSUS PILEUP CALLER — the `samtools consensus` core: at every
    * covered position, the plurality base across reads (ties to the
    * alphabetically smallest — a fixed, engine-replayable rule), with a
    * minimum-depth mask. The argmax needs NO window and no second join:
    * per-(contig, pos, base) counts pack into one integer
    * `enc = cnt·8 + (7 − base_code)`, so `max(enc)` simultaneously
    * selects the plurality count AND, among tied counts, the smallest
    * base — both levels are plain hash aggregates on uniform
    * (contig, pos) keys, map-side combinable, no per-contig funnel and
    * no ordered sweep (depth here is per-base from the reads that cover
    * the position, not an interval prefix sum).
    *
    * Reads are (contig, start, seq) with seq aligned ungapped at start
    * (0-based); the per-base explode is ≤ read-length rows per read —
    * the same linear fan-out contract as the trigram/k-mer kernels. */
  def consensusPileup(reads: DataFrame, minDepth: Long): DataFrame = {
    val perBase = reads
      .select(col("contig"), col("start"),
        posexplode(split(col("seq"), "")).as(Seq("i", "base")))
      .select(col("contig"), (col("start") + col("i")).as("pos"),
        col("base"))
    perBase.groupBy(col("contig"), col("pos"), col("base"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("enc", col("cnt") * 8 + lit(7) - expr(
        "CASE base WHEN 'A' THEN 1 WHEN 'C' THEN 2 WHEN 'G' THEN 3 " +
          "WHEN 'T' THEN 4 ELSE 5 END"))
      .groupBy(col("contig"), col("pos"))
      .agg(sum(col("cnt")).as("depth"), max(col("enc")).as("max_enc"))
      .where(col("depth") >= minDepth)
      .withColumn("consensus", expr(
        "CASE 7 - (max_enc % 8) WHEN 1 THEN 'A' WHEN 2 THEN 'C' " +
          "WHEN 3 THEN 'G' WHEN 4 THEN 'T' ELSE 'N' END"))
      .withColumn("max_cnt", expr("max_enc div 8"))
      .select(col("contig"), col("pos"), col("consensus"), col("depth"),
        col("max_cnt"))
      .orderBy("contig", "pos")
  }

  /** Gate synthesis: 8-base reads whose bases are a pure function of
    * ABSOLUTE position (so overlapping reads agree), except every
    * third line plants an 'N' at its offset 2 — a real plurality
    * contest at those positions, decided by count then the tie rule. */
  def x52Consensus(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 5)
      .select(
        when(col("l_suppkey") % 2 === 0, "c0").otherwise("c1").as("contig"),
        (col("l_partkey") % 500).cast("long").as("start"),
        (col("l_linenumber") % 3 === 0).as("mut"))
      .withColumn("seq", expr(
        "array_join(transform(sequence(0, 7), i -> " +
          "CASE WHEN mut AND i = 2 THEN 'N' ELSE " +
          "substring('ACGT', CAST((start + i) % 4 AS INT) + 1, 1) END), '')"))
      .drop("mut")
    consensusPileup(reads, minDepth = 2L)
  }

  val x52Sql: String =
    """WITH r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'c0' ELSE 'c1' END AS contig,
      |    l_partkey % 500 AS st, l_linenumber % 3 = 0 AS mut
      |  FROM lineitem WHERE l_orderkey % 23 = 5),
      |pb AS (SELECT contig, st + i AS pos,
      |    CASE WHEN mut AND i = 2 THEN 'N'
      |      ELSE substr('ACGT', CAST((st + i) % 4 AS INTEGER) + 1, 1) END
      |      AS base
      |  FROM r, UNNEST(generate_series(0, 7)) AS u(i)),
      |c AS (SELECT contig, pos, base, COUNT(*) AS cnt
      |  FROM pb GROUP BY contig, pos, base),
      |e AS (SELECT contig, pos, cnt,
      |    cnt * 8 + 7 - (CASE base WHEN 'A' THEN 1 WHEN 'C' THEN 2
      |      WHEN 'G' THEN 3 WHEN 'T' THEN 4 ELSE 5 END) AS enc
      |  FROM c)
      |SELECT contig, CAST(pos AS BIGINT) AS pos,
      |  CASE 7 - (MAX(enc) % 8) WHEN 1 THEN 'A' WHEN 2 THEN 'C'
      |    WHEN 3 THEN 'G' WHEN 4 THEN 'T' ELSE 'N' END AS consensus,
      |  CAST(SUM(cnt) AS BIGINT) AS depth,
      |  CAST(MAX(enc) // 8 AS BIGINT) AS max_cnt
      |FROM e GROUP BY contig, pos HAVING SUM(cnt) >= 2
      |ORDER BY contig, pos""".stripMargin

  // ---------------------------------------------------------------- x53
  /** BASE-QUALITY RECALIBRATION TABLE (GATK BaseRecalibrator's first
    * pass) — the canonical billions-of-observations genomics aggregate:
    * every aligned base becomes one observation keyed by its covariates
    * (read group, reported quality, machine cycle), and the table of
    * (observations, mismatches) per covariate cell is what a recalibrator
    * turns into empirical qualities. Mismatch evidence comes from the
    * REAL MD scanner ([[graft.functions.MdVariantsExpr]] — for pure-M
    * alignments at start 0 a variant's position IS the cycle), per-base
    * reported qualities from the one-pass native
    * [[graft.functions.CharNgramsExpr]] over the qual string (never
    * `substr(qual, i, 1)` in a lambda — the O(len²) rescan t24 hit).
    *
    * Scale shape: a map-side explode (read length ×) followed by ONE
    * hash aggregate whose partial combine collapses each task to the
    * covariate-cell count — the result is |RG| × |Q| × cycles rows no
    * matter how many petabytes of reads went in. Empirical rates are
    * integer permille (phred conversion is a 1000-entry driver lookup,
    * not a distributed op — no libm in the kernel, the Det discipline). */
  def bqsrTable(reads: DataFrame): DataFrame = {
    val subCycles = transform(
      graft.functions.MdVariantsExpr.mdVariants(col("seq"), col("md"), lit(0)),
      v => v.substr(lit(1), length(v) - 1).cast("int"))
    import graft.functions.CharNgramsExpr.charNgrams
    reads
      .withColumn("sub_cycles", subCycles)
      .select(col("read_group"), col("sub_cycles"),
        posexplode(charNgrams(col("qual"), 1)).as(Seq("cycle", "qch")))
      .select(col("read_group"), col("cycle").cast("int").as("cycle"),
        (ascii(col("qch")) - 33).as("reported_q"),
        array_contains(col("sub_cycles"), col("cycle")).cast("long")
          .as("mism"))
      .groupBy(col("read_group"), col("reported_q"), col("cycle"))
      .agg(count(lit(1)).as("obs"), sum(col("mism")).as("mism"))
      .withColumn("mism_permille", expr("mism * 1000 div obs"))
  }

  /** Driver gate: 12 bp pure-M reads from lineitem — read group from
    * the order key, a two-level qual string (Q40 head of key-derived
    * length k, Q2 tail: chars 'I' and '#'), one substitution at cycle
    * a = pk % 12 encoded in seq/MD so the parser must FIND it. The
    * covariate table is closed-form: obs(rg, q, c) counts rows whose
    * k-split puts cycle c at quality q; mism adds rows with a = c. */
  def x53BqsrTable(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 10 === 3)
    val a = col("l_partkey") % 12
    val k = col("l_suppkey") % 5 + 2
    val reads = li.select(
      concat(lit("rg"), (col("l_orderkey") % 3).cast("string"))
        .as("read_group"),
      // calmd -e surface: matched bases are '=', the substituted read
      // base is the literal char — exactly what the MD scanner consumes
      concat(expr("repeat('=', l_partkey % 12)"), lit("C"),
        expr("repeat('=', 11 - l_partkey % 12)")).as("seq"),
      concat(expr("repeat('I', l_suppkey % 5 + 2)"),
        expr("repeat('#', 10 - l_suppkey % 5)")).as("qual"),
      concat(a.cast("string"), lit("T"), (lit(11) - a).cast("string"))
        .as("md"))
    bqsrTable(reads)
  }

  val x53Sql: String =
    """WITH r AS (SELECT 'rg' || (l_orderkey % 3) AS read_group,
      |    l_suppkey % 5 + 2 AS k, l_partkey % 12 AS a
      |  FROM lineitem WHERE l_orderkey % 10 = 3),
      |b AS (SELECT read_group,
      |    CASE WHEN i < k THEN 40 ELSE 2 END AS reported_q,
      |    CAST(i AS INTEGER) AS cycle,
      |    CASE WHEN i = a THEN 1 ELSE 0 END AS m
      |  FROM r, UNNEST(generate_series(0, 11)) AS u(i))
      |SELECT read_group, reported_q, cycle,
      |  CAST(COUNT(*) AS BIGINT) AS obs,
      |  CAST(SUM(m) AS BIGINT) AS mism,
      |  CAST(SUM(m) * 1000 // COUNT(*) AS BIGINT) AS mism_permille
      |FROM b GROUP BY read_group, reported_q, cycle""".stripMargin

  // ---------------------------------------------------------------- x54
  /** STRUCTURAL-VARIANT EVIDENCE CLUSTERING (the DELLY/LUMPY/Manta first
    * pass): discordant read pairs — mates on different contigs
    * (translocation evidence, BND) or same-contig with an insert far
    * beyond the library's expectation (deletion evidence, DEL) — vote
    * for a breakpoint-pair locus; loci with ≥ `minSupport` independent
    * pairs become SV candidates. Endpoints are ordered canonically
    * (contig, pos) so a pair reported from either mate lands in the same
    * cluster, then both breakpoints bin at `binWidth` and the cluster
    * key is (contig_a, bin_a, contig_b, bin_b, svtype).
    *
    * Scale shape: one filter (discordant fraction is tiny — the scan
    * prunes to it), one hash aggregate on the uniform composite bin key,
    * map-side combinable; no window, no self-join, nothing corpus-sized
    * past the filter. A cluster straddling a bin edge splits — the
    * standard first-pass coarseness; callers refine survivors with a
    * local assembly that reads ONLY candidate loci. */
  def svEvidenceClusters(pairs: DataFrame, binWidth: Long, maxInsert: Long,
      minSupport: Long): DataFrame = {
    val disc = pairs.where(col("contig") =!= col("mate_contig") ||
      abs(col("mate_pos") - col("pos")) > maxInsert)
    val aFirst = col("contig") < col("mate_contig") ||
      (col("contig") === col("mate_contig") && col("pos") <= col("mate_pos"))
    disc
      .select(
        when(aFirst, col("contig")).otherwise(col("mate_contig"))
          .as("contig_a"),
        when(aFirst, col("pos")).otherwise(col("mate_pos")).as("pos_a"),
        when(aFirst, col("mate_contig")).otherwise(col("contig"))
          .as("contig_b"),
        when(aFirst, col("mate_pos")).otherwise(col("pos")).as("pos_b"))
      .withColumn("svtype",
        when(col("contig_a") =!= col("contig_b"), lit("BND"))
          .otherwise(lit("DEL")))
      .groupBy(col("contig_a"), expr(s"pos_a div $binWidth").as("bin_a"),
        col("contig_b"), expr(s"pos_b div $binWidth").as("bin_b"),
        col("svtype"))
      .agg(count(lit(1)).as("support"),
        min(col("pos_a")).as("min_a"), max(col("pos_a")).as("max_a"))
      .where(col("support") >= minSupport)
  }

  /** Driver gate: pairs from lineitem — concordant background (insert
    * 150 ≪ maxInsert, filtered), long-insert DEL evidence on ok%7=2,
    * and BND hotspots on ok%7=3 anchored at three per-contig kilobase
    * loci so clusters genuinely accumulate support. Closed-form oracle. */
  def x54SvClusters(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val c = concat(lit("c"), (col("l_suppkey") % 2).cast("string"))
    val p = (col("l_partkey") % 1000).cast("long")
    val cls = col("l_orderkey") % 7
    val hot = ((col("l_orderkey") % 3) * 1000 +
      col("l_partkey") % 50).cast("long")
    val pairs = li.select(
      when(cls === 3, lit("c0")).otherwise(c).as("contig"),
      when(cls === 3, hot).otherwise(p).as("pos"),
      when(cls === 3, lit("c1"))
        .otherwise(c).as("mate_contig"),
      when(cls === 3, ((col("l_orderkey") % 3) * 1000 +
          col("l_suppkey") % 50).cast("long"))
        .when(cls === 2, p + 5000L)
        .otherwise(p + 150L).as("mate_pos"))
    svEvidenceClusters(pairs, binWidth = 1000L, maxInsert = 500L,
      minSupport = 3L)
      .orderBy("contig_a", "bin_a", "contig_b", "bin_b", "svtype")
  }

  val x54Sql: String =
    """WITH r AS (SELECT
      |    CASE WHEN l_orderkey % 7 = 3 THEN 'c0'
      |      ELSE 'c' || (l_suppkey % 2) END AS contig,
      |    CASE WHEN l_orderkey % 7 = 3
      |      THEN (l_orderkey % 3) * 1000 + l_partkey % 50
      |      ELSE l_partkey % 1000 END AS pos,
      |    CASE WHEN l_orderkey % 7 = 3 THEN 'c1'
      |      ELSE 'c' || (l_suppkey % 2) END AS mate_contig,
      |    CASE WHEN l_orderkey % 7 = 3
      |        THEN (l_orderkey % 3) * 1000 + l_suppkey % 50
      |      WHEN l_orderkey % 7 = 2 THEN l_partkey % 1000 + 5000
      |      ELSE l_partkey % 1000 + 150 END AS mate_pos
      |  FROM lineitem),
      |disc AS (SELECT * FROM r
      |  WHERE contig <> mate_contig OR abs(mate_pos - pos) > 500),
      |o AS (SELECT
      |    CASE WHEN contig < mate_contig
      |        OR (contig = mate_contig AND pos <= mate_pos)
      |      THEN contig ELSE mate_contig END AS contig_a,
      |    CASE WHEN contig < mate_contig
      |        OR (contig = mate_contig AND pos <= mate_pos)
      |      THEN pos ELSE mate_pos END AS pos_a,
      |    CASE WHEN contig < mate_contig
      |        OR (contig = mate_contig AND pos <= mate_pos)
      |      THEN mate_contig ELSE contig END AS contig_b,
      |    CASE WHEN contig < mate_contig
      |        OR (contig = mate_contig AND pos <= mate_pos)
      |      THEN mate_pos ELSE pos END AS pos_b
      |  FROM disc)
      |SELECT contig_a, CAST(pos_a // 1000 AS BIGINT) AS bin_a,
      |  contig_b, CAST(pos_b // 1000 AS BIGINT) AS bin_b,
      |  CASE WHEN contig_a <> contig_b THEN 'BND' ELSE 'DEL' END AS svtype,
      |  CAST(COUNT(*) AS BIGINT) AS support,
      |  CAST(MIN(pos_a) AS BIGINT) AS min_a,
      |  CAST(MAX(pos_a) AS BIGINT) AS max_a
      |FROM o GROUP BY contig_a, pos_a // 1000, contig_b, pos_b // 1000,
      |  CASE WHEN contig_a <> contig_b THEN 'BND' ELSE 'DEL' END
      |HAVING COUNT(*) >= 3
      |ORDER BY contig_a, bin_a, contig_b, bin_b, svtype""".stripMargin

  // ---------------------------------------------------------------- x55
  /** READ-DEPTH CNV SEGMENTATION (CNVnator / control-FREEC's first
    * pass): per-bucket sample-vs-reference depth ratios classify each
    * genomic bucket as loss / neutral / gain, and consecutive same-state
    * buckets merge into copy-number segments — the event calls a CNV
    * pipeline hands to breakpoint refinement. Ratios are integer
    * permille; states split at `lossMax` / `gainMin`.
    *
    * Scale shape: classification is a narrow map over the bucket table
    * (already corpus-reduced: one row per (contig, bucket), not per
    * read); the merge is the gaps-and-islands key `bucket − row_number`
    * inside a (contig, state)-KEYED window — per-contig-per-state
    * partitions, never corpus-global (requireKeyedWindows enforced), and
    * a missing bucket (no reference mass) breaks adjacency naturally.
    * Segment rows are output-sized: ≤ one per state change. */
  def cnvSegments(buckets: DataFrame, lossMax: Long,
      gainMin: Long): DataFrame = {
    val rated = buckets
      .where(col("ref_mass") > 0)
      .withColumn("ratio_permille",
        expr("sample_mass * 1000 div ref_mass"))
      .withColumn("state",
        when(col("ratio_permille") <= lossMax, lit("loss"))
          .when(col("ratio_permille") >= gainMin, lit("gain"))
          .otherwise(lit("neutral")))
    val w = Window.partitionBy(col("contig"), col("state"))
      .orderBy(col("bucket"))
    val out = rated
      .withColumn("grp", col("bucket") - row_number().over(w))
      .groupBy(col("contig"), col("state"), col("grp"))
      .agg(min(col("bucket")).as("start_bucket"),
        max(col("bucket")).as("end_bucket"),
        count(lit(1)).as("n_buckets"),
        expr("sum(ratio_permille) div count(1)").as("mean_ratio_permille"))
      .drop("grp")
    requireKeyedWindows(out, "cnvSegments")
    out
  }

  /** Driver gate: bucket masses aggregated from lineitem on two contigs;
    * the sample track is the reference track scaled in planted windows —
    * ×2 over buckets [10,20) of c0 (gain), halved over [30,40) of c1
    * (loss, floor div) — so segments, their boundaries, and the
    * untouched neutral runs are all closed-form. */
  def x55CnvSegments(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val base = li.groupBy(
        concat(lit("c"), (col("l_suppkey") % 2).cast("string")).as("contig"),
        (col("l_partkey") % 50).cast("long").as("bucket"))
      .agg(sum(col("l_linenumber") % 5 + 1).as("ref_mass"))
    val buckets = base.withColumn("sample_mass",
      when(col("contig") === "c0" &&
          col("bucket") >= 10 && col("bucket") < 20, col("ref_mass") * 2)
        .when(col("contig") === "c1" &&
          col("bucket") >= 30 && col("bucket") < 40,
          expr("ref_mass div 2"))
        .otherwise(col("ref_mass")))
    cnvSegments(buckets, lossMax = 700L, gainMin = 1300L)
      .orderBy("contig", "start_bucket", "state")
  }

  val x55Sql: String =
    """WITH b AS (SELECT 'c' || (l_suppkey % 2) AS contig,
      |    l_partkey % 50 AS bucket,
      |    SUM(l_linenumber % 5 + 1) AS ref_mass
      |  FROM lineitem GROUP BY 1, 2),
      |sm AS (SELECT contig, bucket, ref_mass,
      |    CASE WHEN contig = 'c0' AND bucket >= 10 AND bucket < 20
      |        THEN ref_mass * 2
      |      WHEN contig = 'c1' AND bucket >= 30 AND bucket < 40
      |        THEN ref_mass // 2
      |      ELSE ref_mass END AS sample_mass
      |  FROM b WHERE ref_mass > 0),
      |r AS (SELECT contig, bucket,
      |    sample_mass * 1000 // ref_mass AS ratio_permille
      |  FROM sm),
      |st AS (SELECT contig, bucket, ratio_permille,
      |    CASE WHEN ratio_permille <= 700 THEN 'loss'
      |      WHEN ratio_permille >= 1300 THEN 'gain'
      |      ELSE 'neutral' END AS state
      |  FROM r),
      |g AS (SELECT contig, state, bucket, ratio_permille,
      |    bucket - ROW_NUMBER() OVER (PARTITION BY contig, state
      |      ORDER BY bucket) AS grp
      |  FROM st)
      |SELECT contig, state,
      |  CAST(MIN(bucket) AS BIGINT) AS start_bucket,
      |  CAST(MAX(bucket) AS BIGINT) AS end_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(ratio_permille) // COUNT(*) AS BIGINT)
      |    AS mean_ratio_permille
      |FROM g GROUP BY contig, state, grp
      |ORDER BY contig, start_bucket, state""".stripMargin

  // ---------------------------------------------------------------- x56
  /** UMI COLLAPSE with directional adjacency (UMI-tools / fgbio
    * GroupReadsByUmi): reads tagged with a unique molecular identifier
    * collapse to molecules, but sequencing errors fork a true UMI into
    * low-count 1-mismatch neighbors — so a UMI absorbs into a
    * same-locus neighbor within edit distance 1 whose count satisfies
    * the directional rule `cnt_a ≥ 2·cnt_b − 1` (errors are rare, so
    * the true molecule dominates its error forks). One directional
    * pass, deterministic: each UMI maps to its best qualifying absorber
    * (count DESC, umi ASC) or stays its own molecule; iterate-to-
    * fixpoint for deep error chains is d12's CC loop if a library needs
    * it.
    *
    * Scale shape: (contig, pos, umi) counts are one uniform shuffle;
    * the absorber search self-joins ONLY within a (contig, pos) locus —
    * block size is molecular depth, never corpus-sized (the d02 block
    * bound, but with a physically bounded block) — and the final
    * per-molecule roll-up is a second uniform aggregate. */
  def umiCollapse(reads: DataFrame): DataFrame = {
    val c = reads.groupBy(col("contig"), col("pos"), col("umi"))
      .agg(count(lit(1)).as("cnt"))
    val a = c.select(col("contig"), col("pos"),
      col("umi").as("a_umi"), col("cnt").as("a_cnt"))
    val w = Window.partitionBy(col("contig"), col("pos"), col("umi"))
      .orderBy(col("a_cnt").desc, col("a_umi").asc)
    val absorbed = c.join(a, Seq("contig", "pos"))
      .where(col("a_umi") =!= col("umi") &&
        levenshtein(col("a_umi"), col("umi")) <= 1 &&
        col("a_cnt") >= col("cnt") * 2 - 1)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("contig"), col("pos"), col("umi"), col("a_umi"))
    c.join(absorbed, Seq("contig", "pos", "umi"), "left_outer")
      .select(col("contig"), col("pos"),
        coalesce(col("a_umi"), col("umi")).as("molecule_umi"),
        col("cnt"))
      .groupBy(col("contig"), col("pos"), col("molecule_umi"))
      .agg(sum(col("cnt")).as("n_reads"),
        count(lit(1)).as("n_umis"))
  }

  /** Driver gate: loci from lineitem with a dominant true UMI (AAAA), a
    * 1-mismatch error fork (AAAT, ~1/4 of reads), and an independent
    * distant molecule (GGGG) — whether the fork absorbs at a given
    * locus depends on that locus's actual counts through the
    * directional rule, and the oracle replays the full rule. */
  def x56UmiCollapse(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 1)
    val reads = li.select(
      concat(lit("c"), (col("l_suppkey") % 2).cast("string")).as("contig"),
      (col("l_partkey") % 100).cast("long").as("pos"),
      when(col("l_orderkey") % 13 === 0, lit("GGGG"))
        .when(col("l_linenumber") % 4 === 0, lit("AAAT"))
        .otherwise(lit("AAAA")).as("umi"))
    umiCollapse(reads)
      .orderBy("contig", "pos", "molecule_umi")
  }

  val x56Sql: String =
    """WITH r AS (SELECT 'c' || (l_suppkey % 2) AS contig,
      |    l_partkey % 100 AS pos,
      |    CASE WHEN l_orderkey % 13 = 0 THEN 'GGGG'
      |      WHEN l_linenumber % 4 = 0 THEN 'AAAT'
      |      ELSE 'AAAA' END AS umi
      |  FROM lineitem WHERE l_orderkey % 3 = 1),
      |c AS (SELECT contig, pos, umi, COUNT(*) AS cnt
      |  FROM r GROUP BY contig, pos, umi),
      |cand AS (SELECT b.contig, b.pos, b.umi, a.umi AS a_umi,
      |    ROW_NUMBER() OVER (PARTITION BY b.contig, b.pos, b.umi
      |      ORDER BY a.cnt DESC, a.umi ASC) AS rk
      |  FROM c b JOIN c a
      |    ON a.contig = b.contig AND a.pos = b.pos
      |  WHERE a.umi <> b.umi AND levenshtein(a.umi, b.umi) <= 1
      |    AND a.cnt >= b.cnt * 2 - 1),
      |ab AS (SELECT contig, pos, umi, a_umi FROM cand WHERE rk = 1),
      |m AS (SELECT c.contig, c.pos,
      |    COALESCE(ab.a_umi, c.umi) AS molecule_umi, c.cnt
      |  FROM c LEFT JOIN ab
      |    ON c.contig = ab.contig AND c.pos = ab.pos AND c.umi = ab.umi)
      |SELECT contig, CAST(pos AS BIGINT) AS pos, molecule_umi,
      |  CAST(SUM(cnt) AS BIGINT) AS n_reads,
      |  CAST(COUNT(*) AS BIGINT) AS n_umis
      |FROM m GROUP BY contig, pos, molecule_umi
      |ORDER BY contig, pos, molecule_umi""".stripMargin

  // ---------------------------------------------------------------- x65
  /** SEX INFERENCE FROM DEPTH RATIOS (plink `--check-sex` / somalier's
    * depth mode) — the sample-QC step every cohort runs before any
    * family- or population-level analysis, because a sample swap shows
    * up here first: per sample, read counts on chrX and chrY are
    * normalized against the autosomal count, and the Y ratio separates
    * XY from XX samples by an order of magnitude (a Y-mapped pileup on
    * an XX sample is mostly mismapping noise). Ratios are integer
    * permille; thresholds sit far from the two populations (XY ≈
    * y_ratio 250, XX ≈ 60 in the gate's mix), so the classification is
    * robust to the synthetic jitter.
    *
    * Scale shape: ONE narrow projection → one (sample)-keyed hash
    * aggregate of three conditional counts, map-side combinable; no
    * join, no window — a map-only stage plus one sample-sized
    * exchange at any corpus size. */
  def sexInfer(reads: DataFrame): DataFrame =
    reads
      .groupBy(col("sample"))
      .agg(
        sum((!col("contig").isin("chrX", "chrY")).cast("long"))
          .as("n_auto"),
        sum((col("contig") === "chrX").cast("long")).as("n_x"),
        sum((col("contig") === "chrY").cast("long")).as("n_y"))
      .where(col("n_auto") > 0)
      .withColumn("x_ratio_milli", expr("(1000 * n_x) div n_auto"))
      .withColumn("y_ratio_milli", expr("(1000 * n_y) div n_auto"))
      .withColumn("inferred_sex",
        when(col("y_ratio_milli") >= 150, "XY").otherwise("XX"))
      .orderBy("sample")

  /** Driver gate: 10 samples, even ones with an XY-shaped contig mix
    * (4/24 of reads on Y), odd ones XX-shaped (1/24 residual Y noise). */
  def x65SexInfer(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 7)
    val reads = li.select(
        concat(lit("s"), (col("l_orderkey") % 10).cast("string"))
          .as("sample"),
        ((col("l_partkey") * 7 + col("l_suppkey")) % 24).as("k"),
        (col("l_orderkey") % 2).as("m"))
      .select(col("sample"),
        when(col("k") < 16, "chr1")
          .when(col("m") === 0 && col("k") < 20, "chrX")
          .when(col("m") === 0, "chrY")
          .when(col("k") < 23, "chrX")
          .otherwise("chrY").as("contig"))
    sexInfer(reads)
  }

  val x65Sql: String =
    """WITH r AS (SELECT
      |    's' || (l_orderkey % 10) AS sample,
      |    (l_partkey * 7 + l_suppkey) % 24 AS k,
      |    l_orderkey % 2 AS m
      |  FROM lineitem WHERE l_orderkey % 19 = 7),
      |c AS (SELECT sample,
      |    CASE WHEN k < 16 THEN 'chr1'
      |      WHEN m = 0 AND k < 20 THEN 'chrX'
      |      WHEN m = 0 THEN 'chrY'
      |      WHEN k < 23 THEN 'chrX'
      |      ELSE 'chrY' END AS contig
      |  FROM r),
      |a AS (SELECT sample,
      |    SUM(CASE WHEN contig NOT IN ('chrX','chrY') THEN 1 ELSE 0 END)
      |      AS n_auto,
      |    SUM(CASE WHEN contig = 'chrX' THEN 1 ELSE 0 END) AS n_x,
      |    SUM(CASE WHEN contig = 'chrY' THEN 1 ELSE 0 END) AS n_y
      |  FROM c GROUP BY sample)
      |SELECT sample, CAST(n_auto AS BIGINT) AS n_auto,
      |  CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
      |  CAST((1000 * n_x) // n_auto AS BIGINT) AS x_ratio_milli,
      |  CAST((1000 * n_y) // n_auto AS BIGINT) AS y_ratio_milli,
      |  CASE WHEN (1000 * n_y) // n_auto >= 150 THEN 'XY'
      |    ELSE 'XX' END AS inferred_sex
      |FROM a WHERE n_auto > 0 ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x66
  /** CONTAMINATION ESTIMATE (VerifyBamID's freemix intuition, the
    * fast counting form) — at a sample's HOM-ALT sites every ref-allele
    * read is either sequencing error or foreign DNA, so the pooled
    * ref-read fraction over all hom-alt sites upper-bounds
    * cross-sample contamination. Pooled, not per-site-averaged: the
    * ratio of SUMS weights deep sites correctly and stays integer-exact
    * (permille of two int64 sums).
    *
    * Scale shape: the genotype filter prunes to hom-alt rows FIRST
    * (narrow), then ONE uniform (sample, contig, pos) equi-join against
    * the pileup counts, then a sample-keyed aggregate — map-side
    * combinable; no window, no skew (site keys are unique per sample). */
  def contaminationEstimate(gt: DataFrame, counts: DataFrame): DataFrame =
    gt.where(col("gt") === "1/1")
      .select(col("sample"), col("contig"), col("pos"))
      .join(counts, Seq("sample", "contig", "pos"))
      .groupBy(col("sample"))
      .agg(count(lit(1)).as("n_homalt_sites"),
        sum(col("ref_n")).as("ref_reads"),
        sum(col("alt_n")).as("alt_reads"))
      .withColumn("contam_permille",
        expr("(1000 * ref_reads) div (ref_reads + alt_reads)"))
      .orderBy("sample")

  /** Driver gate: x58-style genotype grid (distinct mods) + a pileup
    * whose ref counts are small and alt counts dominate, so the
    * permille lands in the plausible 0–200 band and varies by sample. */
  def x66Contamination(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 3)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 300) * 5 + 2).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L)))
      .toDF("sample", "sj")
    val grid = sites.crossJoin(broadcast(dim))
    val gt = grid
      .withColumn("g", (col("pos") * 3 + col("sj") * 7) % 4)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./.").as("gt"))
    val counts = grid.select(col("contig"), col("pos"), col("sample"),
      ((col("pos") + col("sj") * 3) % (col("sj") + 2)).as("ref_n"),
      (lit(12L) + col("pos") % 9).as("alt_n"))
    contaminationEstimate(gt, counts)
  }

  val x66Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 19 = 3),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 300) * 5 + 2 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos, sm.sj,
      |    (s.pos * 3 + sm.sj * 7) % 4 AS gv,
      |    (s.pos + sm.sj * 3) % (sm.sj + 2) AS ref_n,
      |    12 + s.pos % 9 AS alt_n
      |  FROM sites s CROSS JOIN sm),
      |ha AS (SELECT * FROM g WHERE gv = 2)
      |SELECT 's' || sj AS sample, COUNT(*) AS n_homalt_sites,
      |  CAST(SUM(ref_n) AS BIGINT) AS ref_reads,
      |  CAST(SUM(alt_n) AS BIGINT) AS alt_reads,
      |  CAST((1000 * SUM(ref_n)) // (SUM(ref_n) + SUM(alt_n)) AS BIGINT)
      |    AS contam_permille
      |FROM ha GROUP BY sj ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x67
  /** PANEL-OF-NORMALS DEPTH NORMALIZATION (GATK CNV's
    * DenoiseReadCounts intuition, the exact-median counting form) —
    * somatic CNV calling divides each case sample's per-bin coverage by
    * the PANEL MEDIAN of matched normals, cancelling mappability and
    * GC artifacts shared across samples. The median is EXACT (lower
    * median: element (n+1) div 2 of the per-bin sorted panel — a
    * deterministic choice both engines restate, where interpolated
    * medians would reintroduce float drift), and the panel per bin is
    * cohort-sized, so the collect is bounded by panel size, never by
    * bin count.
    *
    * Scale shape: ONE (contig, bin)-keyed aggregate gathers the panel
    * (state ≤ panel size), the ratio computation explodes the SAME
    * grouped row back out — one uniform shuffle total, no join, no
    * second scan; 3e6 genome bins × a 30-sample panel is ~100 MB of
    * grouped state spread over every executor. */
  def ponNormalize(cov: DataFrame): DataFrame =
    cov.groupBy(col("contig"), col("bin"))
      .agg(collect_list(struct(col("sample"), col("n"))).as("panel"))
      .withColumn("med", expr(
        "sort_array(transform(panel, p -> p.n))" +
          "[CAST((size(panel) + 1) div 2 AS INT) - 1]"))
      .select(col("contig"), col("bin"), col("med"),
        explode(col("panel")).as("p"))
      .select(col("p.sample").as("sample"), col("contig"), col("bin"),
        col("p.n").as("n"), col("med"),
        expr("(1000 * p.n) div med").as("ratio_permille"))
      .withColumn("flagged",
        col("ratio_permille") >= 1500 || col("ratio_permille") <= 667)
      .orderBy("sample", "contig", "bin")

  /** Driver gate: 6 samples over a bin grid; sample s0 carries a
    * planted 3× amplification on every 5th bin — flagged rows must be
    * exactly those, everyone else hovers near 1000 permille. */
  def x67PonNormalize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 11)
    val bins = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        (col("l_partkey") % 200).cast("long").as("bin"))
      .distinct()
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L), ("s4", 4L),
      ("s5", 5L))).toDF("sample", "sj")
    val cov = bins.crossJoin(broadcast(dim))
      .withColumn("base",
        lit(20L) + (col("bin") * 3 + col("sj")) % 5)
      .select(col("sample"), col("contig"), col("bin"),
        when(col("sj") === 0 && col("bin") % 5 === 0,
          col("base") * 3).otherwise(col("base")).as("n"))
    ponNormalize(cov)
  }

  val x67Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 19 = 11),
      |bins AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    l_partkey % 200 AS bin FROM li),
      |sm AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5)) AS t(sj)),
      |cov AS (SELECT 's' || sm.sj AS sample, b.contig, b.bin,
      |    CASE WHEN sm.sj = 0 AND b.bin % 5 = 0
      |      THEN (20 + (b.bin * 3 + sm.sj) % 5) * 3
      |      ELSE 20 + (b.bin * 3 + sm.sj) % 5 END AS n
      |  FROM bins b CROSS JOIN sm),
      |md AS (SELECT contig, bin,
      |    list_sort(list(n))[(COUNT(*) + 1) // 2] AS med
      |  FROM cov GROUP BY contig, bin)
      |SELECT c.sample, c.contig, CAST(c.bin AS BIGINT) AS bin,
      |  CAST(c.n AS BIGINT) AS n, CAST(m.med AS BIGINT) AS med,
      |  (1000 * c.n) // m.med AS ratio_permille,
      |  ((1000 * c.n) // m.med >= 1500 OR (1000 * c.n) // m.med <= 667)
      |    AS flagged
      |FROM cov c JOIN md m ON c.contig = m.contig AND c.bin = m.bin
      |ORDER BY c.sample, c.contig, c.bin""".stripMargin

  // ---------------------------------------------------------------- x68
  /** PER-SAMPLE INBREEDING / HETEROZYGOSITY F (plink `--het`, the
    * method-of-moments form) — the population-QC statistic that flags
    * consanguinity, sample contamination (F strongly negative: excess
    * hets), and batch effects: F = (O_hom − E_hom) / (N − E_hom), with
    * E_hom summed per called site from cohort allele frequencies
    * (e_hom = 1 − 2pq, here the uncorrected 2pq = 2·ac·(an−ac)/an² in
    * exact micro-units). Both engines truncate integer division toward
    * zero, so the possibly-NEGATIVE F numerator divides identically
    * with no floor/trunc divergence; monomorphic-only samples (zero
    * denominator) report NULL rather than an arbitrary 0.
    *
    * Scale shape: one uniform (contig, pos) aggregate for cohort
    * ac/an, ONE site-keyed equi-join back to the called genotype rows
    * (uniform — site keys), then a sample-keyed sum; magnitudes stay
    * int64 for cohorts to ~10⁴ samples × 10⁶ sites. */
  def inbreedingF(gt: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    val called = gt.select(col("contig"), col("pos"), col("sample"),
        dose.as("d"))
      .where(col("d").isNotNull)
    val af = called.groupBy(col("contig"), col("pos"))
      .agg(sum(col("d")).as("ac"), (count(lit(1)) * 2).as("an"))
      .withColumn("ehet_micro",
        expr("(2 * ac * (an - ac) * 1000000) div (an * an)"))
      .select(col("contig"), col("pos"), col("ehet_micro"))
    called.join(af, Seq("contig", "pos"))
      .groupBy(col("sample"))
      .agg(count(lit(1)).as("n_sites"),
        sum((col("d") =!= 1).cast("long")).as("o_hom"),
        sum(lit(1000000L) - col("ehet_micro")).as("e_hom_micro"))
      .withColumn("f_milli", expr(
        """CASE WHEN n_sites * 1000000 - e_hom_micro = 0 THEN NULL
          |ELSE (1000 * (o_hom * 1000000 - e_hom_micro))
          |  div (n_sites * 1000000 - e_hom_micro) END""".stripMargin))
      .orderBy("sample")
  }

  /** Driver gate: 5-sample cohort over its own grid; sample s0 is
    * planted ALL-HET (O_hom = 0 → F strongly negative) while the
    * uniform dosage mix leaves the rest hom-enriched (F > 0), so the
    * signed division path executes in both directions at any SF. */
  def x68Inbreeding(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 13)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 350) * 7 + 3).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L), ("s4", 4L)))
      .toDF("sample", "sj")
    val gt = sites.crossJoin(broadcast(dim))
      .withColumn("g",
        when(col("sj") === 0, lit(1L)).otherwise(
          (col("pos") * 5 + col("sj") * 11) % 4))
      .select(col("contig"), col("pos"), col("sample"),
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./.").as("gt"))
    inbreedingF(gt)
  }

  val x68Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 19 = 13),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 350) * 7 + 3 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos, sm.sj,
      |    CASE WHEN sm.sj = 0 THEN 1
      |      ELSE (s.pos * 5 + sm.sj * 11) % 4 END AS gv
      |  FROM sites s CROSS JOIN sm),
      |called AS (SELECT contig, pos, sj, gv AS d FROM g WHERE gv <= 2),
      |af AS (SELECT contig, pos, SUM(d) AS ac, COUNT(*) * 2 AS an
      |  FROM called GROUP BY contig, pos),
      |eh AS (SELECT contig, pos,
      |    (2 * ac * (an - ac) * 1000000) // (an * an) AS ehet_micro
      |  FROM af),
      |per AS (SELECT c.sj, COUNT(*) AS n_sites,
      |    SUM(CASE WHEN c.d <> 1 THEN 1 ELSE 0 END) AS o_hom,
      |    SUM(1000000 - e.ehet_micro) AS e_hom_micro
      |  FROM called c JOIN eh e
      |    ON c.contig = e.contig AND c.pos = e.pos
      |  GROUP BY c.sj)
      |SELECT 's' || sj AS sample, n_sites,
      |  CAST(o_hom AS BIGINT) AS o_hom,
      |  CAST(e_hom_micro AS BIGINT) AS e_hom_micro,
      |  CAST(CASE WHEN n_sites * 1000000 - e_hom_micro = 0 THEN NULL
      |    ELSE (1000 * (o_hom * 1000000 - e_hom_micro))
      |      // (n_sites * 1000000 - e_hom_micro) END AS BIGINT)
      |    AS f_milli
      |FROM per ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x69
  /** TPM QUANTIFICATION (RSEM/kallisto's unit over a counting backend —
    * the `featureCounts → TPM` path): reads assigned to genes through
    * exon overlap, counts normalized first by gene length (reads per
    * base, micro-units) and then to a fixed per-sample total of 10⁶ —
    * the within-sample-comparable expression unit RNA-seq reports.
    * Integer-staged: rate_micro = (10⁶·n) div len, then tpm_milli =
    * (10⁶·rate_micro) div Σrate — both divisions restated verbatim by
    * the oracle, magnitudes ≤ 10¹⁵. A read overlapping two exons of the
    * same gene counts ONCE (the distinct (gene, read) pass — the
    * double-count bug featureCounts' docs warn about); exons are
    * assumed disjoint within a gene (x29's intervalMerge is the
    * normalizer when they are not).
    *
    * Scale shape: the annotation is a genuine dimension table —
    * BROADCAST against the read scan (reads never shuffle to find their
    * gene); one uniform (gene, read) distinct, one gene-keyed count,
    * one broadcast scalar for the total. */
  def tpmQuant(reads: DataFrame, exons: DataFrame): DataFrame = {
    val lens = exons.groupBy(col("gene"))
      .agg(sum(col("end") - col("start")).as("len"))
    val counts = reads
      .join(broadcast(exons),
        reads("contig") === exons("contig") &&
          col("pos") >= col("start") && col("pos") < col("end"))
      .select(col("gene"), col("read_id")).distinct()
      .groupBy(col("gene")).agg(count(lit(1)).as("n_reads"))
    val rates = lens.join(counts, Seq("gene"), "left")
      .withColumn("n_reads", coalesce(col("n_reads"), lit(0L)))
      .withColumn("rate_micro", expr("(1000000 * n_reads) div len"))
    val tot = rates.agg(sum(col("rate_micro")).as("tot"))
    rates.crossJoin(broadcast(tot))
      .withColumn("tpm_milli", expr(
        "CASE WHEN tot = 0 THEN NULL" +
          " ELSE (1000000 * rate_micro) div tot END"))
      .select(col("gene"), col("n_reads"), col("len"),
        col("rate_micro"), col("tpm_milli"))
      .orderBy("gene")
  }

  /** Driver gate: a 4-gene annotation (one two-exon gene, one
    * zero-read gene) against hashed read positions — exercises the
    * once-per-gene dedup, the left-join zero row, and both divisions. */
  def x69TpmQuant(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 21 === 4)
    val reads = li.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("read_id"),
      when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
        .as("contig"),
      ((col("l_partkey") * 17) % 6000).cast("long").as("pos"))
    val exons = s.createDataFrame(Seq(
      ("g0", "chr1", 100L, 200L), ("g0", "chr1", 300L, 400L),
      ("g1", "chr1", 1000L, 1300L), ("g2", "chr2", 2000L, 2050L),
      ("g3", "chr2", 9000L, 9500L))) // beyond pos domain: zero reads
      .toDF("gene", "contig", "start", "end")
    tpmQuant(reads, exons)
  }

  val x69Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
      |  FROM lineitem WHERE l_orderkey % 21 = 4),
      |reads AS (SELECT l_orderkey * 10 + l_linenumber AS read_id,
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    (l_partkey * 17) % 6000 AS pos FROM li),
      |ex AS (SELECT * FROM (VALUES
      |  ('g0', 'chr1', 100, 200), ('g0', 'chr1', 300, 400),
      |  ('g1', 'chr1', 1000, 1300), ('g2', 'chr2', 2000, 2050),
      |  ('g3', 'chr2', 9000, 9500)) AS t(gene, contig, st, en)),
      |lens AS (SELECT gene, SUM(en - st) AS len FROM ex GROUP BY gene),
      |asg AS (SELECT DISTINCT e.gene, r.read_id
      |  FROM reads r JOIN ex e
      |    ON r.contig = e.contig AND r.pos >= e.st AND r.pos < e.en),
      |cnt AS (SELECT gene, COUNT(*) AS n FROM asg GROUP BY gene),
      |rates AS (SELECT l.gene, COALESCE(c.n, 0) AS n_reads, l.len,
      |    (1000000 * COALESCE(c.n, 0)) // l.len AS rate_micro
      |  FROM lens l LEFT JOIN cnt c ON l.gene = c.gene),
      |tot AS (SELECT SUM(rate_micro) AS tot FROM rates)
      |SELECT gene, CAST(n_reads AS BIGINT) AS n_reads,
      |  CAST(len AS BIGINT) AS len,
      |  CAST(rate_micro AS BIGINT) AS rate_micro,
      |  CAST(CASE WHEN tot = 0 THEN NULL
      |    ELSE (1000000 * rate_micro) // tot END AS BIGINT) AS tpm_milli
      |FROM rates CROSS JOIN tot ORDER BY gene""".stripMargin

  // ---------------------------------------------------------------- x70
  /** POLYGENIC RISK SCORE (plink `--score sum`) — the weighted dosage
    * sum that turns a genotype matrix and a published effect-size table
    * into one number per sample: prs = Σ_sites dose·weight over the
    * sites the sample is called at, weights SIGNED (risk and protective
    * alleles), in exact milli-units. Missing genotypes are SKIPPED, not
    * imputed (plink's default no-mean-imputation form), and the
    * called-site count is reported so a consumer can normalize.
    *
    * Scale shape: the weight table is the dimension (≈10⁵–10⁷ rows in
    * production panels) — joined on the uniform (contig, pos) site key;
    * one sample-keyed sum, map-side combinable. No window, no skew. */
  def prsScore(gt: DataFrame, weights: DataFrame): DataFrame = {
    val dose = when(col("gt") === "0/0", 0L)
      .when(col("gt") === "0/1" || col("gt") === "1/0", 1L)
      .when(col("gt") === "1/1", 2L)
    gt.select(col("contig"), col("pos"), col("sample"), dose.as("d"))
      .where(col("d").isNotNull)
      .join(weights, Seq("contig", "pos"))
      .groupBy(col("sample"))
      .agg(count(lit(1)).as("n_sites_used"),
        sum(col("d") * col("w_milli")).as("prs_milli"))
      .orderBy("sample")
  }

  /** Driver gate: signed weights ((pos % 7) − 3 spans −3..+3) over a
    * 4-sample grid with planted `./.` — both score signs occur and the
    * missing-site skip is exercised. */
  def x70PrsScore(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 21 === 9)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 320) * 11 + 7).cast("long").as("pos"))
      .distinct()
    val weights = sites.select(col("contig"), col("pos"),
      (col("pos") % 7 - 3).as("w_milli"))
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L), ("s3", 3L)))
      .toDF("sample", "sj")
    val gt = sites.crossJoin(broadcast(dim))
      .withColumn("g", (col("pos") * 3 + col("sj") * 5) % 4)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("g") === 0, "0/0").when(col("g") === 1, "0/1")
          .when(col("g") === 2, "1/1").otherwise("./.").as("gt"))
    prsScore(gt, weights)
  }

  val x70Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 21 = 9),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 320) * 11 + 7 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(sj)),
      |g AS (SELECT s.contig, s.pos, sm.sj,
      |    (s.pos * 3 + sm.sj * 5) % 4 AS gv, s.pos % 7 - 3 AS w
      |  FROM sites s CROSS JOIN sm)
      |SELECT 's' || sj AS sample, COUNT(*) AS n_sites_used,
      |  CAST(SUM(gv * w) AS BIGINT) AS prs_milli
      |FROM g WHERE gv <= 2 GROUP BY sj ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x71
  /** SITE-LEVEL VARIANT QC: allele balance + strand bias (GATK's
    * AS_BaseQRankSum-adjacent heuristics in their counting form, and
    * the two annotations every hard-filter recipe cuts on). Allele
    * balance pools alt-read mass over the HET samples at a site
    * (a true het sits near 500 permille; systematic deviation flags
    * mapping bias or CNV). Strand bias is the odds-ratio surrogate
    * (rf·ar)/(rr·af) in milli with +1 guards (Fisher's exact needs
    * factorials no integer restatement survives; the odds ratio is the
    * screening form callers log anyway) — a variant supported by one
    * strand only explodes the ratio in one direction. Both flags are
    * data-visible in the gate (planted one-strand alt mass every 11th
    * site).
    *
    * Scale shape: het filter prunes first; ONE uniform (contig, pos)
    * aggregate of six conditional sums, map-side combinable; no joins
    * beyond the synthesized-input composition. */
  def siteQc(het: DataFrame): DataFrame =
    het.groupBy(col("contig"), col("pos"))
      .agg(count(lit(1)).as("n_het"),
        sum(col("ref_fwd")).as("rf"), sum(col("ref_rev")).as("rr"),
        sum(col("alt_fwd")).as("af"), sum(col("alt_rev")).as("ar"))
      .withColumn("ab_permille", expr(
        "(1000 * (af + ar)) div (rf + rr + af + ar)"))
      .withColumn("sb_milli", expr(
        "(1000 * (rf * ar + 1)) div (rr * af + 1)"))
      .withColumn("ab_flag",
        col("ab_permille") < 300 || col("ab_permille") > 700)
      .withColumn("sb_flag",
        col("sb_milli") < 250 || col("sb_milli") > 4000)
      .orderBy("contig", "pos")

  /** Driver gate: balanced strands everywhere except every 11th site,
    * where alt reads land fwd-only — exactly those sites must raise
    * sb_flag, and pooled AB stays in the callable band elsewhere. */
  def x71SiteQc(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 6)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 280) * 9 + 4).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(
      ("s0", 0L), ("s1", 1L), ("s2", 2L)))
      .toDF("sample", "sj")
    val het = sites.crossJoin(broadcast(dim))
      .where((col("pos") + col("sj")) % 3 =!= 0) // not every sample het
      .withColumn("base", col("pos") % 5 + 3)
      .select(col("contig"), col("pos"), col("sample"),
        col("base").as("ref_fwd"),
        (col("base") + 1).as("ref_rev"),
        when(col("pos") % 11 === 0, col("base") * 2)
          .otherwise(col("base")).as("alt_fwd"),
        when(col("pos") % 11 === 0, lit(0L))
          .otherwise(col("base") + 1).as("alt_rev"))
    siteQc(het)
  }

  val x71Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 23 = 6),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 280) * 9 + 4 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(sj)),
      |het AS (SELECT s.contig, s.pos,
      |    s.pos % 5 + 3 AS rf, s.pos % 5 + 4 AS rr,
      |    CASE WHEN s.pos % 11 = 0 THEN (s.pos % 5 + 3) * 2
      |      ELSE s.pos % 5 + 3 END AS af,
      |    CASE WHEN s.pos % 11 = 0 THEN 0
      |      ELSE s.pos % 5 + 4 END AS ar
      |  FROM sites s CROSS JOIN sm
      |  WHERE (s.pos + sm.sj) % 3 <> 0),
      |a AS (SELECT contig, pos, COUNT(*) AS n_het,
      |    SUM(rf) AS rf, SUM(rr) AS rr, SUM(af) AS af, SUM(ar) AS ar
      |  FROM het GROUP BY contig, pos),
      |b AS (SELECT *,
      |    (1000 * (af + ar)) // (rf + rr + af + ar) AS ab_permille,
      |    (1000 * (rf * ar + 1)) // (rr * af + 1) AS sb_milli
      |  FROM a)
      |SELECT contig, CAST(pos AS BIGINT) AS pos, n_het,
      |  CAST(rf AS BIGINT) AS rf, CAST(rr AS BIGINT) AS rr,
      |  CAST(af AS BIGINT) AS af, CAST(ar AS BIGINT) AS ar,
      |  CAST(ab_permille AS BIGINT) AS ab_permille,
      |  CAST(sb_milli AS BIGINT) AS sb_milli,
      |  (ab_permille < 300 OR ab_permille > 700) AS ab_flag,
      |  (sb_milli < 250 OR sb_milli > 4000) AS sb_flag
      |FROM b ORDER BY contig, pos""".stripMargin

  // ---------------------------------------------------------------- x72
  /** GVCF REFERENCE-BLOCK BANDING (GATK HaplotypeCaller's `-ERC GVCF`
    * block collapse) — the step that makes joint genotyping tractable:
    * per-position genotype-quality values collapse into maximal runs of
    * CONSECUTIVE positions whose GQ falls in the same band
    * (<20, <40, <60, ≥60 — the gatk default banding), each run stored
    * as one block with its span and the band's minimum observed GQ
    * (the conservative value joint genotyping reads back). A position
    * gap or a band change both end a block.
    *
    * Scale shape: gaps-and-islands keyed by (sample, contig) — the run
    * id is pos − row_number over the (sample, contig, band) ordering,
    * so consecutive same-band positions share a group WITHOUT any
    * per-contig global window (sample × contig keys are the
    * parallelism); one keyed window + one grouped aggregate. */
  def gvcfBands(gq: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val band = when(col("gq") < 20, 0L).when(col("gq") < 40, 1L)
      .when(col("gq") < 60, 2L).otherwise(3L)
    val w = Window.partitionBy(col("sample"), col("contig"), col("band"))
      .orderBy(col("pos"))
    gq.select(col("sample"), col("contig"), col("pos"), col("gq"),
        band.as("band"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("sample"), col("contig"), col("band"), col("grp"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + 1).as("end_pos"),
        count(lit(1)).as("n_pos"),
        min(col("gq")).as("min_gq"))
      .drop("grp")
      .orderBy("sample", "contig", "start_pos")
  }

  /** Driver gate: a sawtooth GQ surface with planted position gaps —
    * band changes and gaps both split blocks, all four bands occur. */
  def x72GvcfBands(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 14)
    val gq = li.select(
        concat(lit("s"), (col("l_orderkey") % 3).cast("string"))
          .as("sample"),
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        (col("l_partkey") % 600).cast("long").as("pos"))
      .where(col("pos") % 37 =!= 0) // planted gaps
      .distinct()
      .withColumn("gq", (col("pos") * 7) % 80)
    gvcfBands(gq)
  }

  val x72Sql: String =
    """WITH li AS (SELECT l_orderkey, l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 23 = 14),
      |gq AS (SELECT DISTINCT 's' || (l_orderkey % 3) AS sample,
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    l_partkey % 600 AS pos
      |  FROM li WHERE (l_partkey % 600) % 37 <> 0),
      |b AS (SELECT sample, contig, pos, (pos * 7) % 80 AS gq,
      |    CASE WHEN (pos * 7) % 80 < 20 THEN 0
      |      WHEN (pos * 7) % 80 < 40 THEN 1
      |      WHEN (pos * 7) % 80 < 60 THEN 2 ELSE 3 END AS band
      |  FROM gq),
      |r AS (SELECT *, pos - ROW_NUMBER() OVER (
      |    PARTITION BY sample, contig, band ORDER BY pos) AS grp
      |  FROM b)
      |SELECT sample, contig, CAST(band AS BIGINT) AS band,
      |  CAST(MIN(pos) AS BIGINT) AS start_pos,
      |  CAST(MAX(pos) + 1 AS BIGINT) AS end_pos,
      |  COUNT(*) AS n_pos, CAST(MIN(gq) AS BIGINT) AS min_gq
      |FROM r GROUP BY sample, contig, band, grp
      |ORDER BY sample, contig, start_pos""".stripMargin

  // ---------------------------------------------------------------- x73
  /** FASTQ SOURCE/SINK GATE — drives `graft.sources.FastqDataSource`
    * end-to-end: deterministic reads (variable lengths; QUALITY strings
    * salted with '@' characters so many quality lines start with the
    * record marker — the sync ambiguity the reader's structural
    * validation exists for) write as ONE plain FASTQ through the
    * distributed TextSink commit, then as bgzip'd `.fastq.gz`; both
    * read back through `format("fastq")`, the plain one TWICE at
    * different splitsizes. The emitted row value-checks read count,
    * total bases, distinct (name ‖ seq ‖ qual) fingerprints, and a
    * comment count against the synthesis restated from lineitem, plus
    * two split-invariance booleans (different splitsize and gz form
    * must agree exactly — a record lost or doubled at any split seam
    * flips them).
    *
    * Scale shape: the sink streams one part per task with a
    * driver-side byte concat; reads split INSIDE the single file, so
    * parallelism survives the one-file layout in both directions. */
  def x73FastqGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{FastqDataSource, HadoopIO}
    val SeqAlpha = "ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT" * 4
    val QualAlpha = ("@IIH@GF@EDCBA@?>=<;@98765@IIII@HHHH@JJJJ@KKKK@LLLL@" +
      "IJKLMNOPQRSTUVWXYZ()^_@abcdefgh") * 3
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 27 === 5)
    val reads = li.select(
        concat(lit("r"), col("l_orderkey"), lit("_"),
          col("l_linenumber")).as("name"),
        when(col("l_orderkey") % 2 === 0,
          concat(lit("lane="), (col("l_suppkey") % 8).cast("string")))
          .as("comment"),
        (lit(20) + (col("l_partkey") % 80)).cast("int").as("len"),
        ((col("l_partkey") % 100) + 1).cast("int").as("soff"),
        ((col("l_suppkey") % 120) + 1).cast("int").as("qoff"))
      .select(col("name"), col("comment"),
        expr(s"substring('$SeqAlpha', soff, len)").as("sequence"),
        expr(s"substring('$QualAlpha', qoff, len)").as("quality"))
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val plain = s"${HadoopIO.scratchDir(s)}/graft_x73_$tag.fastq"
    val gz = s"${HadoopIO.scratchDir(s)}/graft_x73_$tag.fastq.gz"
    FastqDataSource.write(reads, plain)
    FastqDataSource.write(reads, gz)
    def agg(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum(col("length").cast("long")).as("bases"),
        count_distinct(md5(concat_ws("|", col("name"), col("sequence"),
          col("quality")))).as("fp"),
        sum(col("comment").isNotNull.cast("long")).as("n_comments"))
    val a = agg(s.read.format("fastq")
      .option("splitsize", 4096).load(plain)).collect()(0)
    val b = agg(s.read.format("fastq")
      .option("splitsize", 1 << 20).load(plain)).collect()(0)
    val c = agg(s.read.format("fastq")
      .option("splitsize", 4096).load(gz)).collect()(0)
    import s.implicits._
    Seq((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3),
      a == b, a == c))
      .toDF("n_reads", "total_bases", "n_fingerprints", "n_comments",
        "split_invariant", "gz_invariant")
  }

  val x73Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
      |  FROM lineitem WHERE l_orderkey % 27 = 5),
      |r AS (SELECT
      |    'r' || l_orderkey || '_' || l_linenumber AS name,
      |    CASE WHEN l_orderkey % 2 = 0
      |      THEN 'lane=' || (l_suppkey % 8) END AS comment,
      |    20 + (l_partkey % 80) AS len,
      |    (l_partkey % 100) + 1 AS soff,
      |    (l_suppkey % 120) + 1 AS qoff
      |  FROM li),
      |alpha AS (SELECT
      |    repeat('ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT',
      |      4) AS sa,
      |    repeat('@IIH@GF@EDCBA@?>=<;@98765@IIII@HHHH@JJJJ@KKKK@LLLL@' ||
      |      'IJKLMNOPQRSTUVWXYZ()^_@abcdefgh', 3) AS qa),
      |seqs AS (SELECT name, comment, len,
      |    substring(alpha.sa, soff, len) AS sequence,
      |    substring(alpha.qa, qoff, len) AS quality
      |  FROM r CROSS JOIN alpha)
      |SELECT COUNT(*) AS n_reads,
      |  CAST(SUM(len) AS BIGINT) AS total_bases,
      |  CAST(COUNT(DISTINCT md5(name || '|' || sequence || '|' || quality))
      |    AS BIGINT) AS n_fingerprints,
      |  CAST(SUM(CASE WHEN comment IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_comments,
      |  true AS split_invariant, true AS gz_invariant
      |FROM seqs""".stripMargin

  // ---------------------------------------------------------------- x74
  /** ADAPTER TRIMMING (cutadapt/Trim Galore's 3' mode) — the first
    * preprocessing pass on raw FASTQ: a read is trimmed at the leftmost
    * FULL adapter occurrence, or, failing that, at the longest read
    * SUFFIX that matches an adapter PREFIX of at least `minOverlap`
    * bases (the read-through-into-adapter geometry: the fragment ended
    * mid-adapter, so only the adapter's head is present, always at the
    * read's tail). Full occurrence beats partial; reads with neither
    * pass through. The partial search is expressed as a bounded
    * explode over candidate overlap lengths + max — k ≤ adapter length
    * (13 here), a constant fan-out both engines restate identically,
    * never a per-row loop the oracle cannot replay.
    *
    * Scale shape: narrow per-row string work + one (read-key) max
    * aggregate bounded by the adapter-length fan-out; the gate's
    * summary is one global aggregate. */
  def adapterTrim(reads: DataFrame, adapter: String,
      minOverlap: Int): DataFrame = {
    val alen = adapter.length
    val full = instr(col("sequence"), lit(adapter))
    val base = reads
      .withColumn("len", length(col("sequence")))
      .withColumn("full_pos", full)
    val partial = base.where(col("full_pos") === 0)
      // sequence(lo, hi) DESCENDS for hi < lo — short reads must yield
      // no candidates, not bogus negative-k ones
      .where(col("len") >= minOverlap)
      .select(col("name"), col("len"), col("sequence"),
        explode(expr(s"sequence($minOverlap, " +
          s"least(len, ${alen}))")).as("k"))
      .where(expr(s"substring(sequence, len - k + 1, k) = " +
        s"substring('$adapter', 1, k)"))
      // key on (name, sequence), not name alone: caller-supplied names
      // are NOT guaranteed unique, and pooling candidates across
      // different sequences sharing a name would misclassify rows.
      // Duplicate (name, sequence) rows are identical reads, so each
      // gets the same (correct) overlap back (ADVICE r11).
      .groupBy(col("name"), col("sequence")).agg(max(col("k")).as("ov"))
    base.join(partial, Seq("name", "sequence"), "left")
      .select(col("name"), col("len"),
        when(col("full_pos") > 0, "full")
          .when(col("ov").isNotNull, "partial")
          .otherwise("clean").as("hit"),
        when(col("full_pos") > 0, col("full_pos") - 1)
          .when(col("ov").isNotNull, col("len") - col("ov"))
          .otherwise(col("len")).cast("long").as("trimmed_len"))
  }

  /** Driver gate: Illumina's universal adapter planted three ways —
    * full occurrence mid-read, head-only at the tail (read-through),
    * and absent — classified and trimmed per class, summarized. The
    * operator keys its partial-match join on (name, sequence), so even
    * colliding synthesized names cannot pool candidates across reads. */
  def x74AdapterTrim(s: SparkSession, d: String): DataFrame = {
    val Adapter = "AGATCGGAAGAGC"
    val SeqAlpha = "ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT" * 3
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 27 === 9)
    val reads = li.select(
        concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
          lit("_"), col("l_partkey")).as("name"),
        (lit(15) + (col("l_partkey") % 40)).cast("int").as("plen"),
        ((col("l_suppkey") % 80) + 1).cast("int").as("soff"),
        (col("l_partkey") % 3).as("cls"),
        (lit(5) + col("l_partkey") % 8).cast("int").as("k"))
      .select(col("name"), col("cls"),
        expr(s"substring('$SeqAlpha', soff, plen)").as("prefix"),
        col("k"))
      .select(col("name"),
        when(col("cls") === 0,
          concat(col("prefix"), lit(Adapter), lit("ACGTACGTAC")))
          .when(col("cls") === 1,
            concat(col("prefix"), expr(s"substring('$Adapter', 1, k)")))
          .otherwise(col("prefix")).as("sequence"))
      .distinct()
    adapterTrim(reads, Adapter, minOverlap = 5)
      .groupBy(col("hit"))
      .agg(count(lit(1)).as("n_reads"),
        sum(col("len")).as("raw_bases"),
        sum(col("trimmed_len")).as("kept_bases"))
      .orderBy("hit")
  }

  val x74Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
      |  FROM lineitem WHERE l_orderkey % 27 = 9),
      |alpha AS (SELECT repeat(
      |  'ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT', 3) AS sa),
      |r AS (SELECT DISTINCT
      |    'r' || l_orderkey || '_' || l_linenumber || '_' || l_partkey
      |      AS name,
      |    CASE WHEN l_partkey % 3 = 0 THEN
      |        substring(alpha.sa, (l_suppkey % 80) + 1,
      |          15 + (l_partkey % 40)) || 'AGATCGGAAGAGC' || 'ACGTACGTAC'
      |      WHEN l_partkey % 3 = 1 THEN
      |        substring(alpha.sa, (l_suppkey % 80) + 1,
      |          15 + (l_partkey % 40)) ||
      |        substring('AGATCGGAAGAGC', 1, 5 + l_partkey % 8)
      |      ELSE substring(alpha.sa, (l_suppkey % 80) + 1,
      |        15 + (l_partkey % 40)) END AS sequence
      |  FROM li CROSS JOIN alpha),
      |b AS (SELECT name, sequence, length(sequence) AS len,
      |    strpos(sequence, 'AGATCGGAAGAGC') AS full_pos
      |  FROM r),
      |p AS (SELECT b.name, MAX(k.k) AS ov
      |  FROM b, unnest(range(5, least(b.len, 13) + 1)) AS k(k)
      |  WHERE b.full_pos = 0
      |    AND substring(b.sequence, b.len - k.k + 1, k.k)
      |      = substring('AGATCGGAAGAGC', 1, k.k)
      |  GROUP BY b.name),
      |cl AS (SELECT b.name, b.len,
      |    CASE WHEN b.full_pos > 0 THEN 'full'
      |      WHEN p.ov IS NOT NULL THEN 'partial'
      |      ELSE 'clean' END AS hit,
      |    CASE WHEN b.full_pos > 0 THEN b.full_pos - 1
      |      WHEN p.ov IS NOT NULL THEN b.len - p.ov
      |      ELSE b.len END AS trimmed_len
      |  FROM b LEFT JOIN p ON b.name = p.name)
      |SELECT hit, COUNT(*) AS n_reads,
      |  CAST(SUM(len) AS BIGINT) AS raw_bases,
      |  CAST(SUM(trimmed_len) AS BIGINT) AS kept_bases
      |FROM cl GROUP BY hit ORDER BY hit""".stripMargin

  // ---------------------------------------------------------------- x75
  /** MULTI-ALLELIC SPLIT (`bcftools norm -m-`) — the normalization step
    * AFTER x60's left-align: a site carrying comma-joined ALTs becomes
    * one row per alternate allele, each keeping ITS allele count from
    * the parallel AC list (VCF Number=A semantics: the i-th AC belongs
    * to the i-th ALT), with AN shared and the per-allele frequency in
    * exact permille. Joint tools expect split records; every downstream
    * x-op here (spectrum, HWE, PRS) assumes biallelic rows — this is
    * the adapter that makes real multi-allelic callsets consumable.
    *
    * Scale shape: one narrow posexplode bounded by the ALT count
    * (≤ 3 here, ≤ a dozen in real data); no shuffle before the output
    * sort. */
  def splitMultiallelic(variants: DataFrame): DataFrame =
    variants
      .select(col("contig"), col("pos"), col("ref"), col("an"),
        posexplode(arrays_zip(split(col("alt"), ","),
          split(col("ac"), ","))).as(Seq("idx", "z")))
      .select(col("contig"), col("pos"), col("ref"),
        (col("idx") + 1).cast("long").as("alt_idx"),
        col("z").getField("0").as("alt"),
        col("z").getField("1").cast("long").as("ac"), col("an"))
      .withColumn("af_permille", expr("(1000 * ac) div an"))
      .orderBy("contig", "pos", "alt_idx")

  /** Driver gate: sites alternate 1/2/3 ALTs with formula-driven AC
    * lists summing below AN — exercises index pairing and permille. */
  def x75SplitMultiallelic(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 29 === 3)
    val v = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 400) * 4 + 1).cast("long").as("pos"))
      .distinct()
      .withColumn("ref", when(col("pos") % 2 === 0, "A").otherwise("G"))
      .withColumn("nalt", (col("pos") % 3 + 1).cast("int"))
      .withColumn("alt",
        when(col("nalt") === 1, "T")
          .when(col("nalt") === 2, "T,C").otherwise("T,C,G"))
      .withColumn("ac",
        when(col("nalt") === 1, (col("pos") % 5 + 1).cast("string"))
          .when(col("nalt") === 2, concat((col("pos") % 5 + 1).cast("string"),
            lit(","), (col("pos") % 3 + 1).cast("string")))
          .otherwise(concat((col("pos") % 5 + 1).cast("string"), lit(","),
            (col("pos") % 3 + 1).cast("string"), lit(","),
            (col("pos") % 2 + 1).cast("string"))))
      .withColumn("an", lit(20L))
    splitMultiallelic(v)
  }

  val x75Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 29 = 3),
      |v AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 400) * 4 + 1 AS pos FROM li),
      |w AS (SELECT contig, pos,
      |    CASE WHEN pos % 2 = 0 THEN 'A' ELSE 'G' END AS ref,
      |    pos % 3 + 1 AS nalt,
      |    pos % 5 + 1 AS a1, pos % 3 + 1 AS a2, pos % 2 + 1 AS a3
      |  FROM v),
      |s AS (SELECT contig, pos, ref, nalt,
      |    CASE WHEN nalt = 1 THEN ['T']
      |      WHEN nalt = 2 THEN ['T', 'C'] ELSE ['T', 'C', 'G'] END AS alts,
      |    CASE WHEN nalt = 1 THEN [a1]
      |      WHEN nalt = 2 THEN [a1, a2] ELSE [a1, a2, a3] END AS acs
      |  FROM w),
      |e AS (SELECT contig, pos, ref, g.i AS alt_idx,
      |    alts[g.i] AS alt, acs[g.i] AS ac
      |  FROM s, unnest(range(1, nalt + 1)) AS g(i))
      |SELECT contig, CAST(pos AS BIGINT) AS pos, ref,
      |  CAST(alt_idx AS BIGINT) AS alt_idx, alt,
      |  CAST(ac AS BIGINT) AS ac, CAST(20 AS BIGINT) AS an,
      |  CAST((1000 * ac) // 20 AS BIGINT) AS af_permille
      |FROM e ORDER BY contig, pos, alt_idx""".stripMargin

  // ---------------------------------------------------------------- x76
  /** GENOTYPE CALLING FROM PHRED LIKELIHOODS (bcftools call's PL
    * consumption): a site-sample's PL triple "p0,p1,p2" (phred-scaled,
    * 0 = most likely; order REF/REF, REF/ALT, ALT/ALT) calls the
    * genotype at the FIRST minimum index (the bcftools tie rule) with
    * GQ = second-smallest − smallest (confidence collapses to 0 at a
    * tie — the planted case). Summarized per sample: call counts by
    * class and total GQ, the figures a callset QC report prints.
    *
    * Scale shape: narrow array kernel per row (split, min, position,
    * sort), one sample-keyed aggregate, map-side combinable. */
  def gtFromPl(pl: DataFrame): DataFrame =
    pl.withColumn("arr",
        expr("transform(split(pl, ','), x -> CAST(x AS INT))"))
      .withColumn("mn", array_min(col("arr")))
      .withColumn("call", expr("array_position(arr, mn) - 1"))
      .withColumn("gq",
        expr("sort_array(arr)[1] - sort_array(arr)[0]").cast("long"))
      .groupBy(col("sample"))
      .agg(count(lit(1)).as("n_sites"),
        sum((col("call") === 0).cast("long")).as("n_hom_ref"),
        sum((col("call") === 1).cast("long")).as("n_het"),
        sum((col("call") === 2).cast("long")).as("n_hom_alt"),
        sum((col("gq") === 0).cast("long")).as("n_ties"),
        sum(col("gq")).as("total_gq"))
      .orderBy("sample")

  /** Driver gate: PL triples rotate the minimum across all three
    * classes and plant exact ties (GQ 0, first-minimum rule) every 7th
    * site. */
  def x76GtFromPl(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 29 === 12)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 350) * 6 + 2).cast("long").as("pos"))
      .distinct()
    val dim = s.createDataFrame(Seq(("s0", 0L), ("s1", 1L), ("s2", 2L)))
      .toDF("sample", "sj")
    val pl = sites.crossJoin(broadcast(dim))
      .withColumn("m", (col("pos") * 5 + col("sj") * 7) % 3)
      .withColumn("a", (col("pos") + col("sj")) % 40 + 10)
      .withColumn("b", (col("pos") * 3 + col("sj")) % 60 + 20)
      .select(col("contig"), col("pos"), col("sample"),
        when(col("pos") % 7 === 0,
          // planted tie: two zero entries -> GQ 0, first-min wins
          when(col("m") === 0, concat(lit("0,0,"), col("a")))
            .when(col("m") === 1, concat(lit("0,"), col("a"), lit(",0")))
            .otherwise(concat(col("a"), lit(",0,0"))))
          .otherwise(
            when(col("m") === 0, concat(lit("0,"), col("a"), lit(","), col("b")))
              .when(col("m") === 1, concat(col("a"), lit(",0,"), col("b")))
              .otherwise(concat(col("a"), lit(","), col("b"), lit(",0"))))
          .as("pl"))
    gtFromPl(pl)
  }

  val x76Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 29 = 12),
      |sites AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 350) * 6 + 2 AS pos FROM li),
      |sm AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(sj)),
      |g AS (SELECT s.pos, sm.sj,
      |    (s.pos * 5 + sm.sj * 7) % 3 AS m,
      |    (s.pos + sm.sj) % 40 + 10 AS a,
      |    (s.pos * 3 + sm.sj) % 60 + 20 AS b,
      |    s.pos % 7 = 0 AS tie
      |  FROM sites s CROSS JOIN sm),
      |arr AS (SELECT sj,
      |    CASE WHEN tie THEN
      |        CASE WHEN m = 0 THEN [0, 0, a]
      |          WHEN m = 1 THEN [0, a, 0] ELSE [a, 0, 0] END
      |      ELSE CASE WHEN m = 0 THEN [0, a, b]
      |        WHEN m = 1 THEN [a, 0, b] ELSE [a, b, 0] END END AS l
      |  FROM g),
      |c AS (SELECT sj, list_position(l, list_min(l)) - 1 AS call,
      |    list_sort(l)[2] - list_sort(l)[1] AS gq
      |  FROM arr)
      |SELECT 's' || sj AS sample, COUNT(*) AS n_sites,
      |  CAST(SUM(CASE WHEN call = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hom_ref,
      |  CAST(SUM(CASE WHEN call = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_het,
      |  CAST(SUM(CASE WHEN call = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hom_alt,
      |  CAST(SUM(CASE WHEN gq = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ties,
      |  CAST(SUM(gq) AS BIGINT) AS total_gq
      |FROM c GROUP BY sj ORDER BY sample""".stripMargin

  // ---------------------------------------------------------------- x77
  /** PER-CYCLE QUALITY PROFILE (FastQC's "per base sequence quality",
    * the first plot anyone reads off a run) — sequencing error rates
    * drift with the CYCLE (position in read), so quality is profiled
    * per position across all reads: mean (centi-units, exact), min,
    * max, and the count of reads long enough to reach the cycle. A
    * collapsing tail mean is the classic signal to hard-clip the run.
    *
    * Scale shape: one narrow per-read explode bounded by read length
    * (the transform builds the int array natively, no per-char row
    * until the explode) into ONE cycle-keyed hash aggregate — output
    * is read-length-sized at any corpus size. */
  def cycleQuality(reads: DataFrame): DataFrame =
    reads
      .select(posexplode(expr(
        "transform(sequence(1, length(quality))," +
          " i -> ascii(substring(quality, i, 1)) - 33)"))
        .as(Seq("pos", "q")))
      .select((col("pos") + 1).cast("long").as("cycle"),
        col("q").cast("long").as("q"))
      .groupBy(col("cycle"))
      .agg(count(lit(1)).as("n_reads"),
        expr("(100 * sum(q)) div count(1)").as("mean_centi"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"))
      .orderBy("cycle")

  /** Driver gate: x73's quality synthesis (variable lengths, '@'-salted
    * alphabet) — tail cycles see fewer reads, exercising the ragged
    * aggregation. */
  def x77CycleQuality(s: SparkSession, d: String): DataFrame = {
    val QualAlpha = ("@IIH@GF@EDCBA@?>=<;@98765@IIII@HHHH@JJJJ@KKKK@LLLL@" +
      "IJKLMNOPQRSTUVWXYZ()^_@abcdefgh") * 3
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")) // r16 fan-out; r17 PK keys
      .where(col("l_orderkey") % 27 === 18)
    val reads = li.select(
        (lit(20) + (col("l_partkey") % 80)).cast("int").as("len"),
        ((col("l_suppkey") % 120) + 1).cast("int").as("qoff"))
      .select(expr(s"substring('$QualAlpha', qoff, len)").as("quality"))
    cycleQuality(reads)
  }

  val x77Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 27 = 18),
      |alpha AS (SELECT repeat(
      |  '@IIH@GF@EDCBA@?>=<;@98765@IIII@HHHH@JJJJ@KKKK@LLLL@' ||
      |  'IJKLMNOPQRSTUVWXYZ()^_@abcdefgh', 3) AS qa),
      |r AS (SELECT substring(alpha.qa, (l_suppkey % 120) + 1,
      |    20 + (l_partkey % 80)) AS quality
      |  FROM li CROSS JOIN alpha),
      |c AS (SELECT g.i AS cycle,
      |    ascii(substring(quality, CAST(g.i AS BIGINT), 1)) - 33 AS q
      |  FROM r, unnest(range(1, length(quality) + 1)) AS g(i))
      |SELECT CAST(cycle AS BIGINT) AS cycle, COUNT(*) AS n_reads,
      |  CAST((100 * SUM(q)) // COUNT(*) AS BIGINT) AS mean_centi,
      |  CAST(MIN(q) AS BIGINT) AS min_q, CAST(MAX(q) AS BIGINT) AS max_q
      |FROM c GROUP BY cycle ORDER BY cycle""".stripMargin

  // ---------------------------------------------------------------- x78
  /** INTERVAL-SET ENRICHMENT (`bedtools fisher`'s effect-size half):
    * does annotation set A overlap set B more than chance? Observed
    * overlap mass comes from the exactly-once binned pair join;
    * expected-under-independence is massA·massB div genome_len (each
    * base of A independently lands in B with p = massB/G); the fold
    * ratio in milli is the enrichment figure a ChIP/ATAC analysis
    * reports. Products of two genome-scale masses clear int64 only
    * below ~3 Gb² — staged in decimal(38,0)/HUGEINT (the t34 rule).
    * Inputs are assumed DISJOINT within each set (x29's intervalMerge
    * is the normalizer) so the overlap sum never double-counts.
    *
    * Scale shape: one uniform (contig, bin) exchange for the pair
    * join, two interval-set-sized mass aggregates, output per contig. */
  def intervalEnrichment(a: DataFrame, b: DataFrame, genomeLen: Long,
      binWidth: Int): DataFrame = {
    val obs = binnedOverlapPairs(
        a.select(col("contig"), col("start"), col("end")),
        b.select(col("contig"), col("start"), col("end")), binWidth)
      .select(col("contig"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("ov"))
      .groupBy(col("contig")).agg(sum(col("ov")).as("obs_bases"))
    val massA = a.groupBy(col("contig"))
      .agg(sum(col("end") - col("start")).as("mass_a"))
    val massB = b.groupBy(col("contig"))
      .agg(sum(col("end") - col("start")).as("mass_b"))
    massA.join(massB, Seq("contig"), "full")
      .join(obs, Seq("contig"), "left")
      .select(col("contig"),
        coalesce(col("mass_a"), lit(0L)).as("mass_a"),
        coalesce(col("mass_b"), lit(0L)).as("mass_b"),
        coalesce(col("obs_bases"), lit(0L)).as("obs_bases"))
      .withColumn("exp_milli", expr(
        s"CAST((CAST(mass_a AS DECIMAL(38,0)) * mass_b * 1000)" +
          s" div ${genomeLen}L AS BIGINT)"))
      // fold = obs/exp; exp carries a ×1000 scale, so obs·10⁶ div
      // exp_milli is already milli-scaled (hand-fixture-pinned — the
      // oracle alone could not catch a staging error made on BOTH sides)
      // exp_milli can floor to 0 even with nonzero masses (mass_a·
      // mass_b·1000 < genomeLen) — guard it explicitly, or the division
      // is NULL in non-ANSI Spark but an error in DuckDB/ANSI (ADVICE r11)
      .withColumn("fold_milli", expr(
        """CASE WHEN mass_a = 0 OR mass_b = 0 OR exp_milli = 0 THEN NULL
          |ELSE CAST((CAST(obs_bases AS DECIMAL(38,0)) * 1000000)
          |  div CAST(exp_milli AS DECIMAL(38,0)) AS BIGINT)
          |END""".stripMargin))
      .orderBy("contig")
  }

  /** Driver gate: strided disjoint-by-construction A and B whose
    * phases correlate on chr1 (enriched) and anti-correlate on chr2 —
    * fold above and below 1000 in one table. */
  def x78Enrichment(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 31 === 2)
    val a = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        ((col("l_partkey") % 300) * 30).cast("long").as("start"))
      .distinct()
      .withColumn("end", col("start") + 10L)
    val b = li.where(col("l_linenumber") % 2 === 0).select(
        when(col("l_partkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        // chr1 b-intervals share A's phase (start%30 == 0 -> overlap);
        // chr2's sit mid-stride (start%30 == 15 -> never overlap)
        when(col("l_partkey") % 2 === 0,
          (col("l_suppkey") % 280) * 30 + 2)
          .otherwise((col("l_suppkey") % 280) * 30 + 15)
          .cast("long").as("start"))
      .distinct()
      .withColumn("end", col("start") + 6L)
    intervalEnrichment(a, b, genomeLen = 9000L, binWidth = 64)
  }

  val x78Sql: String =
    """WITH li AS (SELECT l_suppkey, l_partkey, l_linenumber
      |  FROM lineitem WHERE l_orderkey % 31 = 2),
      |a AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    (l_partkey % 300) * 30 AS st, (l_partkey % 300) * 30 + 10 AS en
      |  FROM li),
      |b AS (SELECT DISTINCT
      |    CASE WHEN l_partkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END AS contig,
      |    CASE WHEN l_partkey % 2 = 0 THEN (l_suppkey % 280) * 30 + 2
      |      ELSE (l_suppkey % 280) * 30 + 15 END AS st,
      |    CASE WHEN l_partkey % 2 = 0 THEN (l_suppkey % 280) * 30 + 8
      |      ELSE (l_suppkey % 280) * 30 + 21 END AS en
      |  FROM li WHERE l_linenumber % 2 = 0),
      |ov AS (SELECT a.contig,
      |    SUM(least(a.en, b.en) - greatest(a.st, b.st)) AS obs_bases
      |  FROM a JOIN b ON a.contig = b.contig
      |    AND a.st < b.en AND b.st < a.en
      |  GROUP BY a.contig),
      |ma AS (SELECT contig, SUM(en - st) AS mass_a FROM a GROUP BY contig),
      |mb AS (SELECT contig, SUM(en - st) AS mass_b FROM b GROUP BY contig),
      |j AS (SELECT COALESCE(ma.contig, mb.contig) AS contig,
      |    COALESCE(ma.mass_a, 0) AS mass_a,
      |    COALESCE(mb.mass_b, 0) AS mass_b,
      |    COALESCE(ov.obs_bases, 0) AS obs_bases
      |  FROM ma FULL JOIN mb ON ma.contig = mb.contig
      |  LEFT JOIN ov ON COALESCE(ma.contig, mb.contig) = ov.contig),
      |e AS (SELECT contig, mass_a, mass_b, obs_bases,
      |    CAST((CAST(mass_a AS HUGEINT) * mass_b * 1000) // 9000
      |      AS BIGINT) AS exp_milli
      |  FROM j)
      |SELECT contig, CAST(mass_a AS BIGINT) AS mass_a,
      |  CAST(mass_b AS BIGINT) AS mass_b,
      |  CAST(obs_bases AS BIGINT) AS obs_bases, exp_milli,
      |  CAST(CASE WHEN mass_a = 0 OR mass_b = 0 OR exp_milli = 0 THEN NULL
      |    ELSE (CAST(obs_bases AS HUGEINT) * 1000000)
      |      // CAST(exp_milli AS HUGEINT) END AS BIGINT)
      |    AS fold_milli
      |FROM e ORDER BY contig""".stripMargin

  // ---------------------------------------------------------------- x79
  /** PAIRED-END FASTQ GATE — the mate-paired read surface upstream of
    * BAM the reference's preprocessing starts from (paired FASTQ → uBAM,
    * ref README.md:30). Synthesizes unique-stem pairs in BOTH naming
    * conventions (legacy `/1 /2` suffix and CASAVA `1:N:0:…` comments),
    * writes R1/R2 as bgzip'd FASTQ through the distributed sink, reads
    * them back mate-paired via [[graft.sources.FastqPaired]] with
    * intra-file splits, and pins: strict mode pairs every read exactly
    * once; lenient mode drops a planted R1 orphan; strict mode RAISES on
    * that orphan. Oracle: the mate equi-join restated over the same
    * synthesized parameters. */
  /** x79/x82 shared fixture: unique-stem mate pairs in BOTH naming
    * conventions (legacy `/1 /2` suffix, CASAVA mate-index comment),
    * collapsed to one parameter row per stem so strict mode's per-file
    * uniqueness guard sees instrument-shaped input. Returns the two
    * mate frames in the FASTQ sink schema. */
  private def x79Mates(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val SeqAlpha = "ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT" * 4
    // max(soff) + max(len) = 90 + 79 — keep the alphabet longer than that
    // or substring() silently truncates quality below sequence length
    val QualAlpha = ("@IIH@GF@EDCBA@?>=<;@98765@IIII@HHHH@JJJJ@KKKK@LLLL@" +
      "IJKLMNOPQRSTUVWXYZ()^_@abcdefgh") * 3
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 27 === 11)
    // the synthetic lineitem carries duplicate (orderkey, linenumber)
    // pairs — collapse to one parameter set per stem
    val params = li.select(
        concat(lit("p"), col("l_orderkey"), lit("_"),
          col("l_linenumber")).as("stem"),
        (lit(20) + (col("l_partkey") % 60)).cast("int").as("len1"),
        (lit(20) + (col("l_suppkey") % 60)).cast("int").as("len2"),
        ((col("l_partkey") % 90) + 1).cast("int").as("soff1"),
        ((col("l_suppkey") % 90) + 1).cast("int").as("soff2"),
        (col("l_orderkey") % 2).cast("int").as("legacy"))
      .groupBy(col("stem")).agg(min(col("len1")).as("len1"),
        min(col("len2")).as("len2"), min(col("soff1")).as("soff1"),
        min(col("soff2")).as("soff2"), min(col("legacy")).as("legacy"))
    def mate(i: Int): DataFrame = params.select(
      when(col("legacy") === 1, concat(col("stem"), lit(s"/$i")))
        .otherwise(col("stem")).as("name"),
      when(col("legacy") === 0,
        concat(lit(s"$i:N:0:"), col("stem"))).as("comment"),
      expr(s"substring('$SeqAlpha', soff$i, len$i)").as("sequence"),
      expr(s"substring('$QualAlpha', soff$i, len$i)").as("quality"))
    (mate(1), mate(2))
  }

  def x79PairedFastq(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{FastqDataSource, FastqPaired, HadoopIO}
    val (mate1, mate2) = x79Mates(s, d)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"${HadoopIO.scratchDir(s)}/graft_x79_$tag"
    val (r1c, r2c) = (s"$dir/clean_R1.fastq.gz", s"$dir/clean_R2.fastq.gz")
    FastqDataSource.write(mate1, r1c)
    FastqDataSource.write(mate2, r2c)
    // orphan variant: R1 gains one read with no R2 mate
    import s.implicits._
    val orphan = Seq(("zz_orphan/1", null.asInstanceOf[String],
      "ACGTACGT", "IIIIIIII")).toDF("name", "comment", "sequence", "quality")
    val r1o = s"$dir/orphan_R1.fastq.gz"
    FastqDataSource.write(mate1.unionByName(orphan), r1o)
    val strictAgg = FastqPaired
      .read(s, r1c, r2c, strict = true, splitSize = 4096)
      .agg(count(lit(1)).as("n"),
        sum(col("len_1").cast("long")).as("b1"),
        sum(col("len_2").cast("long")).as("b2"),
        count_distinct(md5(concat_ws("|", col("name"), col("seq_1"),
          col("seq_2")))).as("fp"),
        sum(col("comment_1").isNull.cast("long")).as("n_legacy"))
      .collect()(0)
    val lenientN = FastqPaired
      .read(s, r1o, r2c, strict = false, splitSize = 4096).count()
    val strictRaises =
      try { FastqPaired.read(s, r1o, r2c, strict = true).count(); false }
      catch { case NonFatal(_) => true }
    Seq((strictAgg.getLong(0), strictAgg.getLong(1), strictAgg.getLong(2),
      strictAgg.getLong(3), strictAgg.getLong(4),
      lenientN == strictAgg.getLong(0), strictRaises))
      .toDF("n_pairs", "bases_r1", "bases_r2", "n_fingerprints",
        "n_legacy", "lenient_drops_orphan", "strict_raises")
  }

  val x79Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 27 = 11),
      |p0 AS (SELECT 'p' || l_orderkey || '_' || l_linenumber AS stem,
      |    20 + (l_partkey % 60) AS len1, 20 + (l_suppkey % 60) AS len2,
      |    (l_partkey % 90) + 1 AS soff1, (l_suppkey % 90) + 1 AS soff2,
      |    CAST(l_orderkey % 2 AS INT) AS legacy
      |  FROM li),
      |p AS (SELECT stem, MIN(len1) AS len1, MIN(len2) AS len2,
      |    MIN(soff1) AS soff1, MIN(soff2) AS soff2, MIN(legacy) AS legacy
      |  FROM p0 GROUP BY stem),
      |alpha AS (SELECT repeat(
      |  'ACGTNACGTTGCAACGTNGGCCAATTACGTNACGTTGCAACGTNGGCCAATT', 4) AS sa),
      |m AS (SELECT stem, legacy,
      |    substring(alpha.sa, soff1, len1) AS seq1,
      |    substring(alpha.sa, soff2, len2) AS seq2, len1, len2
      |  FROM p CROSS JOIN alpha)
      |SELECT COUNT(*) AS n_pairs,
      |  CAST(SUM(len1) AS BIGINT) AS bases_r1,
      |  CAST(SUM(len2) AS BIGINT) AS bases_r2,
      |  CAST(COUNT(DISTINCT md5(stem || '|' || seq1 || '|' || seq2))
      |    AS BIGINT) AS n_fingerprints,
      |  CAST(SUM(CASE WHEN legacy = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_legacy,
      |  true AS lenient_drops_orphan, true AS strict_raises
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- x81
  /** SLIDING-WINDOW QUALITY TRIM (Trimmomatic `SLIDINGWINDOW:w:q`) — the
    * other half of raw-FASTQ preprocessing next to x74's adapter trim:
    * scan 5'→3', cut the read at the START of the first length-`window`
    * run whose MEAN Phred quality drops below `meanQ` (compared
    * integer-exact as window sum < w·q — no float mean). Reads shorter
    * than one window pass through whole; a read whose first window
    * already fails trims to length 0 (the zero-length-read case the
    * FASTQ source round-trips since r12).
    *
    * Scale shape: pure per-row byte algebra over the quality string —
    * one narrow scan, zero shuffles before the caller's aggregate, O(len)
    * per row via the native rolling-window [[graft.functions.QualityTrim]]
    * expression (whole-stage codegen). The r12 builtin-lambda formulation
    * (`transform(sequence)` array then `filter/aggregate` windows) was the
    * round's one perf defect: CollapseProject inlined the array-builder
    * into the window lambda — O(len³·w)/row, 102 s at sf0.1 (VERDICT r12
    * §wrong-1). That formulation survives as QualityTrimExprSpec's
    * equality oracle; [[PlanAudit.requireNoInlinedArrayBuilders]] guards
    * the plan in-row so the collapse class cannot return silently. */
  def qualityTrim(reads: DataFrame, window: Int, meanQ: Int): DataFrame = {
    val out = reads
      .withColumn("len", length(col("quality")))
      .withColumn("trimmed_len",
        graft.functions.QualityTrimExpr.qualityTrim(col("quality"), window, meanQ))
    // the audit inspects the BATCH optimizedPlan; on a streaming frame
    // (x83 runs this kernel inside a micro-batch query) that access
    // itself throws — the stream's batch-side plan is audited by the
    // x81 row and QualityTrimExprSpec instead
    if (!out.isStreaming)
      PlanAudit.requireNoInlinedArrayBuilders(out, "qualityTrim")
    out
  }

  /** Driver gate: three planted classes — clean (all Phred 40), a good
    * head with a Phred-2 tail (trimmed near the junction: the exact cut
    * lands where the sliding window first straddles enough tail bases,
    * identical arithmetic on both engines), and all-bad (trimmed to 0). */
  def x81QualityTrim(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 27 === 20)
    val reads = li.select(
        (col("l_partkey") % 3).cast("int").as("cls"),
        (lit(20) + (col("l_partkey") % 60)).cast("int").as("len"),
        (lit(8) + (col("l_suppkey") % 10)).cast("int").as("good"))
      .select(col("cls"), col("len"),
        when(col("cls") === 0, expr("repeat('I', len)"))
          .when(col("cls") === 1,
            expr("concat(repeat('I', good), repeat('#', len - good))"))
          .otherwise(expr("repeat('#', len)")).as("quality"))
    qualityTrim(reads, window = 5, meanQ = 15)
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_reads"),
        sum(col("len").cast("long")).as("raw_bases"),
        sum(col("trimmed_len")).as("kept_bases"),
        sum((col("trimmed_len") === 0).cast("long")).as("n_dropped"))
      .orderBy("cls")
  }

  val x81Sql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 27 = 20),
      |r AS (SELECT l_partkey % 3 AS cls,
      |    20 + (l_partkey % 60) AS len,
      |    8 + (l_suppkey % 10) AS good
      |  FROM li),
      |q AS (SELECT cls, len,
      |    CASE WHEN cls = 0 THEN repeat('I', len)
      |      WHEN cls = 1 THEN repeat('I', good) ||
      |        repeat('#', len - good)
      |      ELSE repeat('#', len) END AS quality,
      |    ROW_NUMBER() OVER () AS rid
      |  FROM r),
      |c AS (SELECT rid, cls, len, g.i AS i,
      |    ascii(substring(quality, CAST(g.i AS BIGINT), 1)) - 33 AS qv
      |  FROM q, unnest(range(1, len + 1)) AS g(i)),
      |w AS (SELECT a.rid, a.i AS i0, SUM(b.qv) AS s
      |  FROM c a JOIN c b ON b.rid = a.rid
      |    AND b.i BETWEEN a.i AND a.i + 4
      |  WHERE a.i <= a.len - 4
      |  GROUP BY a.rid, a.i),
      |f AS (SELECT rid, MIN(i0) AS first_fail FROM w
      |  WHERE s < 75 GROUP BY rid),
      |t AS (SELECT q.cls, q.len,
      |    COALESCE(f.first_fail - 1, q.len) AS trimmed_len
      |  FROM q LEFT JOIN f ON q.rid = f.rid)
      |SELECT CAST(cls AS INT) AS cls, COUNT(*) AS n_reads,
      |  CAST(SUM(len) AS BIGINT) AS raw_bases,
      |  CAST(SUM(trimmed_len) AS BIGINT) AS kept_bases,
      |  CAST(SUM(CASE WHEN trimmed_len = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped
      |FROM t GROUP BY cls ORDER BY cls""".stripMargin

  // ---------------------------------------------------------------- x82
  /** PAIRED FASTQ → uBAM — the reference's ACTUAL preprocessing entry
    * (ref README.md:30: paired FASTQ in, unaligned BAM out — picard
    * FastqToSam's job) composed end-to-end from the engine's own
    * surfaces: the x79 fixture writes R1/R2 bgzip'd FASTQ in both naming
    * conventions, [[graft.sources.FastqPaired]] reads them mate-paired
    * with intra-file splits, each pair unrolls to its two uBAM records
    * with the picard mate flags (0x4D = paired|unmapped|mate-unmapped|
    * first-in-pair = 77, 0x8D = …|second = 141), an UNALIGNED encoding
    * (referenceName `*` → refID −1 per the BAM spec's unmapped
    * convention, POS 0, CIGAR `*`, RNEXT `*`) and the stem as the shared
    * read name plus an RG tag; [[graft.sources.BamWriter]] streams ONE
    * single-file BAM against an EMPTY reference dictionary, and the gate
    * re-scans it through the `bam` DSv2 source. Oracle: the pair
    * arithmetic restated (record counts, per-mate base masses, the
    * all-unmapped invariant, RG-tag round-trip).
    *
    * Scale shape: two split-parallel FASTQ scans → one stem-keyed
    * uniform join → per-pair explode → distributed BGZF encode into
    * part-files; no record bytes transit the driver. */
  def x82UbamGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{FastqDataSource, HadoopIO}
    val (mate1, mate2) = x79Mates(s, d)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"${HadoopIO.scratchDir(s)}/graft_x82_$tag"
    val (r1, r2) = (s"$dir/R1.fastq.gz", s"$dir/R2.fastq.gz")
    FastqDataSource.write(mate1, r1)
    FastqDataSource.write(mate2, r2)
    // r14: the composition is the USER surface now —
    // [[graft.mito.MitoPipeline.fastqToUbam]] (picard FastqToSam
    // analogue, CLI at graft.mito.FastqToUbamCli); the gate drives it
    // through the shared path
    val out = s"$dir/unmapped.bam"
    val nWritten = graft.mito.MitoPipeline.fastqToUbam(s, r1, r2, out,
      readGroup = "sample1", splitSize = 4096)
    s.read.format("bam").load(out)
      .agg(count(lit(1)).as("n_records"),
        sum((col("flag") === 77).cast("long")).as("n_first"),
        sum((col("flag") === 141).cast("long")).as("n_second"),
        sum(when(col("flag") === 77, length(col("sequence")))
          .otherwise(0).cast("long")).as("bases_r1"),
        sum(when(col("flag") === 141, length(col("sequence")))
          .otherwise(0).cast("long")).as("bases_r2"),
        sum((col("referenceName") === "*" && col("start") === 0 &&
          col("cigar") === "*" && col("rnext") === "*").cast("long"))
          .as("n_unaligned"),
        count_distinct(col("readName")).as("n_stems"),
        sum((col("attributes") === "RG:Z:sample1").cast("long")).as("n_rg"))
      .select(col("*"),
        (lit(nWritten) === col("n_records")).as("write_count_ok"))
  }

  val x82Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 27 = 11),
      |p0 AS (SELECT 'p' || l_orderkey || '_' || l_linenumber AS stem,
      |    20 + (l_partkey % 60) AS len1, 20 + (l_suppkey % 60) AS len2
      |  FROM li),
      |p AS (SELECT stem, MIN(len1) AS len1, MIN(len2) AS len2
      |  FROM p0 GROUP BY stem)
      |SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_records,
      |  CAST(COUNT(*) AS BIGINT) AS n_first,
      |  CAST(COUNT(*) AS BIGINT) AS n_second,
      |  CAST(SUM(len1) AS BIGINT) AS bases_r1,
      |  CAST(SUM(len2) AS BIGINT) AS bases_r2,
      |  CAST(2 * COUNT(*) AS BIGINT) AS n_unaligned,
      |  CAST(COUNT(*) AS BIGINT) AS n_stems,
      |  CAST(2 * COUNT(*) AS BIGINT) AS n_rg,
      |  true AS write_count_ok
      |FROM p""".stripMargin

  // ---------------------------------------------------------------- x83
  /** STREAMING QUALITY TRIM — the instrument-drop ingest composition the
    * r12 verdict sketched (#8): FASTQ files land in a directory, the
    * `fastq` DSv2 reads them as a MICRO-BATCH stream
    * ([[graft.sources.FastqMicroBatchStream]]: prefix-of-sorted-listing
    * offsets, append-only asserted loudly, per-file split parallelism
    * inside each batch), the fixed x81 kernel
    * ([[graft.functions.QualityTrim]], a stateless projection) trims
    * every read, and a complete-mode aggregate accumulates per-class
    * totals in the state store behind a CHECKPOINT. The gate runs the
    * stream over three landed files, STOPS it, lands a fourth, restarts
    * from the checkpoint (only the new file replays — asserted from the
    * committed offsets), and value-checks the final totals against the
    * batch formulation over the same directory — the exactly-once
    * contract, q105-style: every read counted once across batches,
    * restarts, and files. */
  def x83StreamTrimGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{FastqDataSource, HadoopIO}
    val s2 = s.newSession()
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x83_$tag"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent rerun
    val dir = s"$root/in"
    val ckpt = s"$root/ckpt"

    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 7)
    val reads = li.select(
        (col("l_orderkey") % 4).cast("int").as("fi"),
        (col("l_partkey") % 3).cast("int").as("cls"),
        (lit(20) + (col("l_partkey") % 60)).cast("int").as("len"),
        (lit(8) + (col("l_suppkey") % 10)).cast("int").as("good"),
        concat(lit("r"), (col("l_partkey") % 3).cast("int"), lit("_"),
          col("l_orderkey"), lit("_"), col("l_linenumber")).as("name"))
      .groupBy(col("name")).agg(min(col("fi")).as("fi"),
        min(col("cls")).as("cls"), min(col("len")).as("len"),
        min(col("good")).as("good"))
      .select(col("fi"), col("cls"), col("name"),
        expr("repeat('A', len)").as("sequence"),
        when(col("cls") === 0, expr("repeat('I', len)"))
          .when(col("cls") === 1,
            expr("concat(repeat('I', good), repeat('#', len - good))"))
          .otherwise(expr("repeat('#', len)")).as("quality"))
    def land(fi: Int): Unit = FastqDataSource.write(
      reads.where(col("fi") === fi).select("name", "sequence", "quality"),
      f"$dir/part-$fi%05d.fastq.gz")

    def runStream(): Unit = {
      // the memory sink registers a temp view per query name; a restart
      // must re-register, not collide
      s2.catalog.dropTempView("x83_stream")
      val stream = s2.readStream.format("fastq")
        .option("splitsize", 4096).load(dir)
      val agg = qualityTrim(stream, window = 5, meanQ = 15)
        .groupBy(expr("CAST(substring(name, 2, 1) AS INT)").as("cls"))
        .agg(count(lit(1)).as("n_reads"),
          sum(col("len").cast("long")).as("raw_bases"),
          sum(col("trimmed_len")).as("kept_bases"),
          sum((col("trimmed_len") === 0).cast("long")).as("n_dropped"))
      val q = agg.writeStream.format("memory").queryName("x83_stream")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    (0 to 2).foreach(land)
    runStream()
    def lastOffsetN(): Int = {
      val od = new org.apache.hadoop.fs.Path(s"$ckpt/offsets")
      val files = fs.listStatus(od).map(_.getPath)
        .filter(p => p.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val txt = {
        val in = fs.open(files.last)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      "\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(-1)
    }
    val nAfterFirst = lastOffsetN()
    land(3)
    runStream() // restart from the checkpoint: only file 3 replays
    val nAfterSecond = lastOffsetN()
    val streamed = s2.table("x83_stream")
      .select("cls", "n_reads", "raw_bases", "kept_bases", "n_dropped")
      .collect().map(_.toString).sorted.toSeq
    val batch = qualityTrim(
        s2.read.format("fastq").option("splitsize", 4096).load(dir)
          .select(col("name"), col("quality")), 5, 15)
      .groupBy(expr("CAST(substring(name, 2, 1) AS INT)").as("cls"))
      .agg(count(lit(1)).as("n_reads"),
        sum(col("len").cast("long")).as("raw_bases"),
        sum(col("trimmed_len")).as("kept_bases"),
        sum((col("trimmed_len") === 0).cast("long")).as("n_dropped"))
      .select("cls", "n_reads", "raw_bases", "kept_bases", "n_dropped")
    val batchRows = batch.collect().map(_.toString).sorted.toSeq
    import s.implicits._
    val totals = batch.agg(count(lit(1)).as("n_classes"),
      sum(col("n_reads")).as("n_reads"),
      sum(col("kept_bases")).as("kept_bases"),
      sum(col("n_dropped")).as("n_dropped")).collect()(0)
    Seq((totals.getLong(0), totals.getLong(1), totals.getLong(2),
      totals.getLong(3), streamed == batchRows,
      nAfterFirst == 3 && nAfterSecond == 4))
      .toDF("n_classes", "n_reads", "kept_bases", "n_dropped",
        "stream_equals_batch", "incremental_ok")
  }

  val x83Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 23 = 7),
      |p0 AS (SELECT 'r' || (l_partkey % 3) || '_' || l_orderkey || '_'
      |      || l_linenumber AS name,
      |    l_partkey % 3 AS cls, 20 + (l_partkey % 60) AS len,
      |    8 + (l_suppkey % 10) AS good
      |  FROM li),
      |p AS (SELECT name, MIN(cls) AS cls, MIN(len) AS len,
      |    MIN(good) AS good
      |  FROM p0 GROUP BY name),
      |t AS (SELECT cls, len,
      |    CASE WHEN cls = 0 THEN len
      |      WHEN cls = 2 THEN 0
      |      -- cls 1: first failing 5-window at 0-based s = the first s
      |      -- with < 2 good bases in [s, s+4] (40g + 2(5-g) < 75 iff
      |      -- g < 2), i.e. s = good - 1 (clamped into [0, len - 5]);
      |      -- reads shorter than one window pass through whole
      |      ELSE CASE WHEN len < 5 THEN len
      |        WHEN good - 1 > len - 5 THEN len
      |        ELSE good - 1 END
      |    END AS trimmed_len
      |  FROM p)
      |SELECT CAST(3 AS BIGINT) AS n_classes,
      |  CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(trimmed_len) AS BIGINT) AS kept_bases,
      |  CAST(SUM(CASE WHEN trimmed_len = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  true AS stream_equals_batch, true AS incremental_ok
      |FROM t""".stripMargin

  // ---------------------------------------------------------------- x84
  /** VCF REGION SCAN gate — the `vcf` DataSource V2's pruning contract
    * ([[graft.sources.VcfDataSource]], r13): a coordinate-sorted
    * multi-contig site VCF written bgzip'd through [[VcfWriter]] across
    * MANY BGZF member runs, indexed BOTH ways ([[Tabix.build]] `.tbi`
    * and [[Tabix.buildCsi]] `.csi`), then scanned with a prime
    * `splitsize` and a (contig = 'chr2' AND pos range) predicate.
    * Correctness is the oracle: the region aggregate equals the
    * synthesis arithmetic, so a member wrongly pruned flips the hash
    * (and a record wrongly kept flips it too — the reader re-applies
    * the pushed predicate per record). Efficiency is asserted in-row:
    * the planned byte span of the index's member runs must be a
    * MINORITY of the file (`pruned_ok`), the pruned scan must plan
    * FEWER partitions than the full scan (`parts_pruned_ok`), and the
    * predicate must actually reach the scan (`pushed_ok`, from the V2
    * pushdown state) — a silent regression to full-file scanning fails
    * the gate, not just the stopwatch. */
  def x84VcfRegionGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BaiIndex, HadoopIO, Tabix, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 6 === 3)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        // spread sites across many 16 kb index bins (a 1..5000 range
        // would land every record in ONE leaf bin and leave the index
        // nothing to prune)
        ((col("l_partkey") % 5000) * 97 + 1).cast("long").as("pos"),
        ((col("l_partkey") % 7) + 1).cast("long").as("ac0"),
        ((col("l_suppkey") % 100) + 1).cast("long").as("dp0"))
      .groupBy(col("contig"), col("pos"))
      .agg(min(col("ac0")).as("ac"), min(col("dp0")).as("dp"))
      .select(col("contig"), col("pos"), lit("A").as("ref"),
        lit("T").as("alt"), col("ac"), col("dp"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x84_$sfTag"
    val refs = Seq("chr1" -> 1000000, "chr2" -> 1000000)
    val (tbiVcf, csiVcf) = (s"$root/tbi.vcf.gz", s"$root/csi.vcf.gz")
    // 8 range partitions = 8+ self-contained BGZF member runs, so the
    // region's members are a strict minority even at sf0.001
    VcfWriter.write(sites, refs, tbiVcf, numPartitions = 8)
    VcfWriter.write(sites, refs, csiVcf, numPartitions = 8)
    val conf = s.sparkContext.hadoopConfiguration
    Tabix.build(tbiVcf, conf)
    Tabix.buildCsi(csiVcf, conf)

    val (lo, hi) = (100000L, 200000L)
    def regionScan(path: String) = s.read.format("vcf")
      .option("splitsize", 4093).load(path)
      .where(col("contig") === "chr2" && col("pos") >= lo && col("pos") < hi)
    // r14: the native one-pass info_field kernel replaces per-key
    // regexp_extract (same values — the r13 hash is pinned unchanged)
    val agg = regionScan(tbiVcf)
      .select(col("pos"),
        graft.functions.InfoFieldExpr.infoFieldLong(col("info"), "AC")
          .as("ac"),
        graft.functions.InfoFieldExpr.infoFieldLong(col("info"), "DP")
          .as("dp"))
      .agg(count(lit(1)).as("n_sites"),
        coalesce(sum(col("ac")), lit(0L)).as("sum_ac"),
        coalesce(sum(col("dp")), lit(0L)).as("sum_dp"))
    val nCsi = regionScan(csiVcf).count()
    val nAll = s.read.format("vcf").option("splitsize", 4093)
      .load(tbiVcf).count()
    // byte accounting, straight from the sidecar the planner consults
    val tbi = Tabix.read(tbiVcf, conf)
    val runs = BaiIndex.memberRuns(BaiIndex.chunks(tbi.bai,
      tbi.names.indexOf("chr2"), (lo - 1).toInt, hi.toInt))
    val kept = runs.map { case (m0, _, m1) => m1 - m0 }.sum
    val fileLen = {
      val p = new org.apache.hadoop.fs.Path(tbiVcf)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }
    val fullParts = s.read.format("vcf").option("splitsize", 4093)
      .load(tbiVcf).rdd.getNumPartitions
    val prunedParts = regionScan(tbiVcf).rdd.getNumPartitions
    // the predicate must reach the V2 scan (PushedFilters in the scan
    // description), not stay a post-scan Filter over a full read
    val pushedOk = regionScan(tbiVcf).queryExecution.executedPlan
      .toString.contains("contig = 'chr2'")
    agg.select(col("n_sites"), col("sum_ac"), col("sum_dp"),
      lit(nCsi).as("n_sites_csi"), lit(nAll).as("n_total"),
      lit(kept * 2 < fileLen).as("pruned_ok"),
      lit(prunedParts < fullParts).as("parts_pruned_ok"),
      lit(pushedOk).as("pushed_ok"))
  }

  val x84Sql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 6 = 3),
      |s0 AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    (l_partkey % 5000) * 97 + 1 AS pos,
      |    (l_partkey % 7) + 1 AS ac0, (l_suppkey % 100) + 1 AS dp0
      |  FROM li),
      |sites AS (SELECT contig, pos, MIN(ac0) AS ac, MIN(dp0) AS dp
      |  FROM s0 GROUP BY contig, pos),
      |r AS (SELECT * FROM sites
      |  WHERE contig = 'chr2' AND pos >= 100000 AND pos < 200000)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_sites,
      |  CAST(COALESCE(SUM(ac), 0) AS BIGINT) AS sum_ac,
      |  CAST(COALESCE(SUM(dp), 0) AS BIGINT) AS sum_dp,
      |  CAST(COUNT(*) AS BIGINT) AS n_sites_csi,
      |  CAST((SELECT COUNT(*) FROM sites) AS BIGINT) AS n_total,
      |  true AS pruned_ok, true AS parts_pruned_ok, true AS pushed_ok
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x85
  /** DISTRIBUTED INDEX BUILD gate — [[graft.sources.Tabix.buildDistributed]]
    * / `buildCsiDistributed` (r14, VERDICT r13 #1): a multi-contig
    * bgzip'd cohort-shaped VCF is indexed SEQUENTIALLY (the htslib-parity
    * reference pass), then re-indexed by the executor-parallel build at a
    * small split size that chops member chains mid-run. The gate asserts
    * IN-ROW that both `.tbi` and `.csi` sidecars are BYTE-IDENTICAL to
    * the sequential builders' (`tbi_identical`/`csi_identical`), then
    * runs an oracle-checked region aggregate THROUGH the distributed-
    * built `.tbi` with x84's pruning accounting (`parts_pruned_ok`) —
    * so a distributed build that drifted from the format would fail the
    * hash, the byte compare, or the pruning assert, not just a spec. */
  def x85DistIndexGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HadoopIO, Tabix, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 9 === 4)
    val sites = li.select(
        when(col("l_suppkey") % 3 === 0, "chr1")
          .when(col("l_suppkey") % 3 === 1, "chr2")
          .otherwise("chr3").as("contig"),
        ((col("l_partkey") % 4000) * 101 + 7).cast("long").as("pos"),
        ((col("l_partkey") % 5) + 1).cast("long").as("ac0"),
        ((col("l_suppkey") % 50) + 1).cast("long").as("dp0"))
      .groupBy(col("contig"), col("pos"))
      .agg(min(col("ac0")).as("ac"), min(col("dp0")).as("dp"))
      .select(col("contig"), col("pos"), lit("A").as("ref"),
        lit("T").as("alt"), col("ac"), col("dp"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x85_$sfTag"
    val refs = Seq("chr1" -> 500000, "chr2" -> 500000, "chr3" -> 500000)
    val vcf = s"$root/cohort.vcf.gz"
    VcfWriter.write(sites, refs, vcf, numPartitions = 8)
    val conf = s.sparkContext.hadoopConfiguration
    def sidecarBytes(p: String): Array[Byte] = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val in = hp.getFileSystem(conf).open(hp)
      try in.readAllBytes() finally in.close()
    }
    val nSeqTbi = Tabix.build(vcf, conf)
    val seqTbi = sidecarBytes(vcf + ".tbi")
    val nSeqCsi = Tabix.buildCsi(vcf, conf)
    val seqCsi = sidecarBytes(vcf + ".csi")
    // distributed builds LAST: the scan below consumes the distributed
    // artifacts, not the sequential ones
    val nDistTbi = Tabix.buildDistributed(s, vcf, splitSize = 4093)
    val nDistCsi = Tabix.buildCsiDistributed(s, vcf, splitSize = 4093)
    val tbiIdentical = nSeqTbi == nDistTbi &&
      java.util.Arrays.equals(seqTbi, sidecarBytes(vcf + ".tbi"))
    val csiIdentical = nSeqCsi == nDistCsi &&
      java.util.Arrays.equals(seqCsi, sidecarBytes(vcf + ".csi"))

    val (lo, hi) = (150000L, 280000L)
    def scan() = s.read.format("vcf").option("splitsize", 4093).load(vcf)
    val q = scan().where(col("contig") === "chr2" &&
      col("pos") >= lo && col("pos") < hi)
    val fullParts = scan().rdd.getNumPartitions
    val prunedParts = q.rdd.getNumPartitions
    q.select(col("pos"),
        graft.functions.InfoFieldExpr.infoFieldLong(col("info"), "AC")
          .as("ac"),
        graft.functions.InfoFieldExpr.infoFieldLong(col("info"), "DP")
          .as("dp"))
      .agg(count(lit(1)).as("n_sites"),
        coalesce(sum(col("ac")), lit(0L)).as("sum_ac"),
        coalesce(sum(col("dp")), lit(0L)).as("sum_dp"))
      .select(col("n_sites"), col("sum_ac"), col("sum_dp"),
        lit(tbiIdentical).as("tbi_identical"),
        lit(csiIdentical).as("csi_identical"),
        lit(prunedParts < fullParts).as("parts_pruned_ok"))
  }

  val x85Sql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 9 = 4),
      |s0 AS (SELECT
      |    CASE l_suppkey % 3 WHEN 0 THEN 'chr1' WHEN 1 THEN 'chr2'
      |      ELSE 'chr3' END AS contig,
      |    (l_partkey % 4000) * 101 + 7 AS pos,
      |    (l_partkey % 5) + 1 AS ac0, (l_suppkey % 50) + 1 AS dp0
      |  FROM li),
      |sites AS (SELECT contig, pos, MIN(ac0) AS ac, MIN(dp0) AS dp
      |  FROM s0 GROUP BY contig, pos),
      |r AS (SELECT * FROM sites
      |  WHERE contig = 'chr2' AND pos >= 150000 AND pos < 280000)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_sites,
      |  CAST(COALESCE(SUM(ac), 0) AS BIGINT) AS sum_ac,
      |  CAST(COALESCE(SUM(dp), 0) AS BIGINT) AS sum_dp,
      |  true AS tbi_identical, true AS csi_identical,
      |  true AS parts_pruned_ok
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x86
  /** STREAMING BAM ingest gate — the `bam` DSv2's MICRO_BATCH_READ
    * surface (r14, VERDICT r13 #4): per-sample BAMs land in a directory,
    * the shared [[graft.sources.LandingDirMicroBatchStream]] offset
    * model (prefix-of-sorted-listing, append-only asserted loudly) plans
    * each batch's byte-range splits, and a complete-mode flagstat-shaped
    * aggregate accumulates per-class totals behind a checkpoint. The
    * gate streams three landed BAMs, STOPS, lands a fourth, restarts
    * from the checkpoint (committed offsets asserted 3→4 — only the new
    * file replays), and value-checks stream ≡ batch over the same
    * directory: the x83 discipline on the binary source. */
  def x86StreamBamGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO}
    val s2 = s.newSession()
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x86_$tag"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent rerun
    val dir = s"$root/in"
    val ckpt = s"$root/ckpt"

    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 21 === 6)
    val flag = (lit(1)
      + when(col("l_partkey") % 7 === 0, 4).otherwise(0)
      + when(col("l_quantity").cast("int") % 11 === 0, 1024).otherwise(0))
      .cast("int")
    val recs = li.select(
      (col("l_orderkey") % 4).cast("int").as("fi"),
      concat(lit("r"), (col("l_partkey") % 3).cast("int"), lit("_"),
        col("l_orderkey"), lit("_"), col("l_linenumber")).as("readName"),
      flag.as("flag"), lit("chrM").as("referenceName"),
      (col("l_partkey") % 1000 + 1).cast("int").as("start"),
      lit(60).as("mapQ"), lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    def land(fi: Int): Unit = BamWriter.write(
      recs.where(col("fi") === fi).drop("fi"),
      "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n", Seq("chrM" -> 16569),
      f"$dir/part-$fi%05d.bam")

    def flagstat(df: DataFrame): DataFrame = df
      .groupBy(expr("CAST(substring(readName, 2, 1) AS INT)").as("cls"))
      .agg(count(lit(1)).as("n_reads"),
        sum((col("flag").bitwiseAND(lit(4)) === 0).cast("long"))
          .as("n_mapped"),
        sum((col("flag").bitwiseAND(lit(1024)) =!= 0).cast("long"))
          .as("n_dup"),
        sum(col("start").cast("long")).as("sum_start"))

    def runStream(): Unit = {
      s2.catalog.dropTempView("x86_stream")
      val stream = s2.readStream.format("bam")
        .option("splitsize", 4096).load(dir)
      val q = flagstat(stream).writeStream.format("memory")
        .queryName("x86_stream").outputMode("complete")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    (0 to 2).foreach(land)
    runStream()
    def lastOffsetN(): Int = {
      val od = new org.apache.hadoop.fs.Path(s"$ckpt/offsets")
      val files = fs.listStatus(od).map(_.getPath)
        .filter(p => p.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val txt = {
        val in = fs.open(files.last)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      "\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(-1)
    }
    val nAfterFirst = lastOffsetN()
    land(3)
    runStream() // restart from the checkpoint: only file 3 replays
    val nAfterSecond = lastOffsetN()
    val cols = Seq("cls", "n_reads", "n_mapped", "n_dup", "sum_start")
    val streamed = s2.table("x86_stream").select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val batch = flagstat(s2.read.format("bam")
      .option("splitsize", 4096).load(dir))
    val batchRows = batch.select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    import s.implicits._
    val t = batch.agg(count(lit(1)).as("n_classes"),
      sum(col("n_reads")).as("n_reads"),
      sum(col("n_mapped")).as("n_mapped"),
      sum(col("n_dup")).as("n_dup"),
      sum(col("sum_start")).as("sum_start")).collect()(0)
    Seq((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3),
      t.getLong(4), streamed == batchRows,
      nAfterFirst == 3 && nAfterSecond == 4))
      .toDF("n_classes", "n_reads", "n_mapped", "n_dup", "sum_start",
        "stream_equals_batch", "incremental_ok")
  }

  val x86Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |  FROM lineitem WHERE l_orderkey % 21 = 6),
      |r AS (SELECT l_partkey % 3 AS cls,
      |    CASE WHEN l_partkey % 7 = 0 THEN 1 ELSE 0 END AS unmapped,
      |    CASE WHEN CAST(l_quantity AS INT) % 11 = 0 THEN 1 ELSE 0 END
      |      AS dup,
      |    (l_partkey % 1000) + 1 AS start
      |  FROM li)
      |SELECT CAST(COUNT(DISTINCT cls) AS BIGINT) AS n_classes,
      |  CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(1 - unmapped) AS BIGINT) AS n_mapped,
      |  CAST(SUM(dup) AS BIGINT) AS n_dup,
      |  CAST(SUM(start) AS BIGINT) AS sum_start,
      |  true AS stream_equals_batch, true AS incremental_ok
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x87
  /** COHORT VCF MERGE gate — [[graft.sources.VcfMerge]] (r14, VERDICT
    * r13 #7, the bcftools-merge analogue): three single-sample VCFs with
    * PARTIALLY OVERLAPPING site sets (every site is missing from exactly
    * one sample — the sample-missing-at-a-site case the verdict named)
    * merge into one multi-sample VCF through the `vcf` source + extended
    * [[graft.sources.VcfWriter]], then `readGenotypes` round-trips the
    * cohort. Oracle-checked: row/call/missing counts, the het-call
    * count, and depth mass all restate the synthesis arithmetic; header
    * sample order and the merged-count contract are asserted in-row. */
  def x87CohortMergeGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HadoopIO, VcfDataSource, VcfMerge, VcfWriter}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 8 === 5)
    val sites = li.select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("contig"),
        (col("l_partkey") % 3000).cast("long").as("pi"))
      .distinct()
    val refs = Seq("chr1" -> 500000, "chr2" -> 500000)
    // sample k calls a site iff (pi + k) % 3 != 0 — every site has
    // exactly two callers, so the merge must render exactly one ./.:.
    // per site
    def sampleGt(k: Int) = sites.where((col("pi") + k) % 3 =!= 0)
      .select(col("contig"), (col("pi") * 53 + 11).as("pos"),
        lit("A").as("ref"), lit("G").as("alt"),
        lit(s"s$k").as("sample"),
        when((col("pi") + k) % 2 === 0, "0/1").otherwise("1/1").as("gt"),
        (col("pi") % 50 + 1 + k).cast("long").as("dp"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x87_$sfTag"
    val paths = (0 to 2).map { k =>
      val p = s"$root/s$k.vcf.gz"
      VcfWriter.writeGenotypes(sampleGt(k), refs, Seq(s"s$k"), p)
      p
    }
    val cohort = s"$root/cohort.vcf.gz"
    // r15: the merge emits its .tbi/.csi DURING the write (index-on-write
    // — VERDICT r14 #3); the region query below consumes the
    // write-emitted sidecar in-row, no post-hoc build step
    val nMerged = VcfMerge.merge(s, paths, cohort, index = true, csi = true)
    val conf = s.sparkContext.hadoopConfiguration
    val samplesOk = VcfDataSource.headerSamples(cohort, conf) ==
      Seq("s0", "s1", "s2") &&
      VcfDataSource.headerContigs(cohort, conf) == refs
    // region scan THROUGH the write-emitted index: same rows as an
    // unpruned full-file filter, planning no MORE partitions than the
    // full scan (the q116 pruning-accounting discipline)
    def scanSplit = s.read.format("vcf").option("splitsize", 4093)
      .load(cohort)
    val regionPred = col("contig") === "chr1" &&
      col("pos") >= 40000L && col("pos") < 90000L
    val prunedRows = scanSplit.where(regionPred)
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    val fullRows = s.read.format("vcf")
      .option("splitsize", Int.MaxValue).load(cohort).where(regionPred)
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    val iowRegionOk = prunedRows == fullRows
    // STRICT < (ADVICE r15): the 4 KiB splitsize fixture plans many
    // full-scan partitions, so working pruning always plans strictly
    // fewer — a <= form was trivially true and could not detect a
    // pruning regression
    val iowPrunedOk = scanSplit.where(regionPred).rdd.getNumPartitions <
      scanSplit.rdd.getNumPartitions
    val back = VcfWriter.readGenotypes(s, cohort, strict = true)
    back.agg(
        count_distinct(col("contig"), col("pos")).as("n_sites"),
        count(lit(1)).as("n_rows"),
        sum((col("gt") =!= "./.").cast("long")).as("n_called"),
        sum((col("gt") === "./.").cast("long")).as("n_missing"),
        sum((col("gt") === "0/1").cast("long")).as("n_het"),
        coalesce(sum(col("dp")), lit(0L)).as("sum_dp"))
      .select(col("*"),
        (lit(nMerged) === col("n_sites")).as("merge_count_ok"),
        lit(samplesOk).as("samples_ok"),
        lit(iowRegionOk).as("iow_region_ok"),
        lit(iowPrunedOk).as("iow_pruned_ok"))
  }

  val x87Sql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 8 = 5),
      |s0 AS (SELECT DISTINCT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2' END
      |      AS contig,
      |    l_partkey % 3000 AS pi
      |  FROM li),
      |ks AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(k)),
      |calls AS (SELECT s0.contig, s0.pi, ks.k
      |  FROM s0 CROSS JOIN ks WHERE (s0.pi + ks.k) % 3 <> 0)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_sites,
      |  CAST(3 * (SELECT COUNT(*) FROM s0) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_called,
      |  CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_missing,
      |  CAST(SUM(CASE WHEN (pi + k) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_het,
      |  CAST(SUM(pi % 50 + 1 + k) AS BIGINT) AS sum_dp,
      |  true AS merge_count_ok, true AS samples_ok,
      |  true AS iow_region_ok, true AS iow_pruned_ok
      |FROM calls""".stripMargin

  // ---------------------------------------------------------------- x88
  /** COHORT BAM MERGE gate — [[graft.sources.BamMerge]] (r15, VERDICT
    * r14 #5, the samtools-merge analogue and x87's sibling at the
    * alignment layer): three per-sample BAMs with distinct `@RG` read
    * groups (each record tagged `RG:Z:...`) merge into one
    * coordinate-sorted single-file BAM with INDEX-ON-WRITE; a region
    * query then goes through the write-emitted `.bai` in-row (pruned
    * rows ≡ unpruned filter, no post-hoc index build). The `@RG` ID
    * collision refusal is asserted in-row (a fourth input reusing rg0
    * must raise, not silently rewrite). Oracle-checked: read counts,
    * start mass, per-contig and region checksums restate the synthesis
    * arithmetic. */
  def x88BamMergeGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamMerge, BamWriter, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 23 === 7)
    def reads(k: Int) = li
      .where((col("l_orderkey") + col("l_linenumber")) % 3 === k)
      .select(
        concat(lit("q"), col("l_orderkey"), lit("_"),
          col("l_linenumber")).as("readName"),
        lit(0).as("flag"),
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chr2")
          .as("referenceName"),
        (col("l_partkey") % 100000 + 1).cast("int").as("start"),
        lit(60).as("mapQ"), lit("10M").as("cigar"),
        lit("*").as("rnext"), lit(0).as("pnext"), lit(0).as("tlen"),
        lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
        concat(lit("RG:Z:rg"), lit(k)).as("attributes"))
    val refs = Seq("chr1" -> 200000, "chr2" -> 200000)
    def header(k: Int) = "@HD\tVN:1.6\tSO:coordinate\n" +
      refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString +
      s"@RG\tID:rg$k\tSM:s$k\n"
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x88_$sfTag"
    val paths = (0 to 2).map { k =>
      val p = s"$root/s$k.bam"
      BamWriter.sortAndWrite(reads(k), header(k), refs, p)
      p
    }
    val cohort = s"$root/cohort.bam"
    val nMerged = BamMerge.merge(s, paths, cohort, index = true)
    // header carries all three read groups in input order
    val (mergedHeader, mergedRefs) = BamWriter.readHeader(cohort)
    val rgOk = mergedRefs == refs &&
      (0 to 2).forall(k => mergedHeader.contains(s"@RG\tID:rg$k\tSM:s$k"))
    // region query THROUGH the write-emitted .bai (no post-hoc build):
    // same rows as the unpruned filter, planning no more partitions
    def scanSplit = s.read.format("bam").option("splitsize", 4096)
      .load(cohort)
    val regionPred = col("referenceName") === "chr1" &&
      col("start") >= 30000 && col("start") <= 60000
    val prunedRows = scanSplit.where(regionPred)
      .select("readName").collect().map(_.getString(0)).sorted.toSeq
    val fullRows = s.read.format("bam")
      .option("splitsize", Int.MaxValue).load(cohort).where(regionPred)
      .select("readName").collect().map(_.getString(0)).sorted.toSeq
    val iowRegionOk = prunedRows == fullRows
    // STRICT < (ADVICE r15): the 4 KiB splitsize fixture plans many
    // full-scan partitions, so working pruning always plans strictly
    // fewer — a <= form was trivially true and could not detect a
    // pruning regression
    val iowPrunedOk = scanSplit.where(regionPred).rdd.getNumPartitions <
      scanSplit.rdd.getNumPartitions
    // @RG ID collision: a fourth input reusing rg0 must refuse loudly
    val dup = s"$root/dup.bam"
    BamWriter.sortAndWrite(reads(0).limit(2), header(0), refs, dup)
    val collisionRefused =
      try { BamMerge.merge(s, paths :+ dup, s"$root/bad.bam"); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("@RG ID collision") }
    val back = s.read.format("bam").load(cohort)
    back.agg(
        count(lit(1)).as("n_reads"),
        sum((col("referenceName") === "chr1").cast("long")).as("n_chr1"),
        sum(col("start").cast("long")).as("sum_start"),
        sum(when(regionPred, 1L).otherwise(0L)).as("n_region"),
        // per-read-group attribution survives the merge: the RG:Z tag
        sum(when(col("attributes").contains("RG:Z:rg0"), 1L)
          .otherwise(0L)).as("n_rg0"))
      .select(col("*"),
        (lit(nMerged) === col("n_reads")).as("merge_count_ok"),
        lit(rgOk).as("rg_ok"),
        lit(iowRegionOk).as("iow_region_ok"),
        lit(iowPrunedOk).as("iow_pruned_ok"),
        lit(collisionRefused).as("collision_refused"))
  }

  val x88Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 23 = 7),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END AS chr1,
      |    (l_partkey % 100000) + 1 AS start,
      |    CASE WHEN (l_orderkey + l_linenumber) % 3 = 0 THEN 1 ELSE 0 END
      |      AS rg0
      |  FROM li)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(chr1) AS BIGINT) AS n_chr1,
      |  CAST(SUM(start) AS BIGINT) AS sum_start,
      |  CAST(SUM(CASE WHEN chr1 = 1 AND start >= 30000 AND start <= 60000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_region,
      |  CAST(SUM(rg0) AS BIGINT) AS n_rg0,
      |  true AS merge_count_ok, true AS rg_ok, true AS iow_region_ok,
      |  true AS iow_pruned_ok, true AS collision_refused
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x89
  /** INDEX-AWARE STREAMING REGION SCAN gate (r15, VERDICT r14 #4): two
    * bgzip'd VCFs land in a directory with `.tbi` sidecars emitted by
    * INDEX-ON-WRITE; a `region`-option STREAM over the landing dir must
    * (a) equal the batch `.where()` filter value-for-value and (b) plan
    * strictly FEWER partitions than the unfiltered stream — planning
    * consults each landed file's sidecar exactly like the batch scan
    * ([[graft.sources.VcfScan.planFile]] is shared). The `region`
    * option is the pruning channel because Spark pushes no catalyst
    * predicates into MICRO_BATCH scans (`PushedFilters: []` —
    * StreamPruneProbeSpec pins that finding). */
  def x89StreamPruneGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VcfDataSource, VcfFilters, VcfScan, VcfWriter}
    import graft.sources.HadoopIO
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x89_$sfTag"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true) // idempotent
    val dir = s"$root/land"
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 19 === 3)
    val refs = Seq("v0" -> 2000000, "v1" -> 2000000)
    (0 to 1).foreach { half =>
      val variants = li.where(col("l_partkey") % 2 === half)
        .select(
          when(col("l_suppkey") % 2 === 0, "v0").otherwise("v1")
            .as("contig"),
          (col("l_partkey") % 6000 * 251 + 13).cast("long").as("pos"),
          (col("l_partkey") % 5 + 1).cast("long").as("ac0"),
          (col("l_suppkey") % 40 + 1).cast("long").as("dp0"))
        .groupBy("contig", "pos")
        .agg(min("ac0").as("ac"), min("dp0").as("dp"))
        .select(col("contig"), col("pos"), lit("A").as("ref"),
          lit("G").as("alt"), col("ac"), col("dp"))
      VcfWriter.write(variants, refs, f"$dir/part-$half%05d.vcf.gz",
        index = true)
    }
    val (qLo, qHi) = (200000L, 700000L)
    // value check: streamed with the region OPTION ≡ batch .where()
    val s2 = s.newSession()
    scala.util.Try(s2.catalog.dropTempView("x89_stream"))
    val q = s2.readStream.format("vcf").option("splitsize", 2039)
      .option("region", s"v1:$qLo-$qHi").load(dir)
      .groupBy().agg(count(lit(1)).as("n"),
        coalesce(sum(col("pos")), lit(0L)).as("sum_pos"),
        coalesce(sum(graft.functions.InfoFieldExpr
          .infoFieldLong(col("info"), "AC")), lit(0L)).as("sum_ac"))
      .writeStream.format("memory").queryName("x89_stream")
      .outputMode("complete")
      .option("checkpointLocation", s"$root/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = s2.table("x89_stream").head
    val batch = s.read.format("vcf").option("splitsize", 2039).load(dir)
      .where(col("contig") === "v1" &&
        col("pos") >= qLo && col("pos") <= qHi)
      .agg(count(lit(1)), coalesce(sum(col("pos")), lit(0L)),
        coalesce(sum(graft.functions.InfoFieldExpr
          .infoFieldLong(col("info"), "AC")), lit(0L))).head
    val streamEqBatch = streamed.getLong(0) == batch.getLong(0) &&
      streamed.getLong(1) == batch.getLong(1) &&
      streamed.getLong(2) == batch.getLong(2)
    // partition accounting via the stream's own planner: the pruned
    // stream must plan strictly fewer partitions than the full one
    def planned(preds: Seq[VcfFilters.Pred]): Int = {
      val ms = new VcfScan(Seq(dir), Some(2039L), VcfDataSource.schema, preds)
        .toMicroBatchStream("")
      ms.planInputPartitions(ms.initialOffset(), ms.latestOffset()).length
    }
    val nPruned = planned(Seq(VcfFilters.ContigEq("v1"),
      VcfFilters.PosCmp(">=", qLo), VcfFilters.PosCmp("<=", qHi)))
    val nFull = planned(Nil)
    import s.implicits._
    Seq((streamed.getLong(0), streamed.getLong(1), streamed.getLong(2),
        streamEqBatch, nPruned < nFull))
      .toDF("n_region", "sum_pos", "sum_ac", "stream_equals_batch",
        "stream_pruned_ok")
  }

  val x89Sql: String =
    """WITH li AS (SELECT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey % 19 = 3),
      |s0 AS (SELECT
      |    CASE WHEN l_suppkey % 2 = 0 THEN 'v0' ELSE 'v1' END AS contig,
      |    (l_partkey % 6000) * 251 + 13 AS pos,
      |    (l_partkey % 5) + 1 AS ac0
      |  FROM li),
      |sites AS (SELECT contig, pos, MIN(ac0) AS ac
      |  FROM s0 GROUP BY contig, pos),
      |r AS (SELECT * FROM sites
      |  WHERE contig = 'v1' AND pos >= 200000 AND pos <= 700000)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_region,
      |  CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS sum_pos,
      |  CAST(COALESCE(SUM(ac), 0) AS BIGINT) AS sum_ac,
      |  true AS stream_equals_batch, true AS stream_pruned_ok
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- x91
  /** `samtools idxstats` ANALOGUE gate (r16, VERDICT r15 #5): per-contig
    * mapped/unmapped counts served from the `.bai` sidecar ALONE
    * ([[graft.sources.Idxstats]] reading the htslib pseudo-bins the
    * index-on-write path now emits) — ZERO record decode. The
    * metadata-only claim is enforced in-row with a SparkListener: a
    * marker job flushes the ordered listener bus after the idxstats
    * call, and exactly the marker may have started (meta_only_ok). The
    * stats are then restated by a full scan (flag 0x4 split per
    * referenceName) and compared (scan_match_ok). Rows: each dictionary
    * contig plus the `*` unplaced slot; oracle restates the synthesis
    * arithmetic. */
  def x91IdxstatsGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO, Idxstats}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 31 === 5)
    val unplaced = col("l_partkey") % 7 === 0
    val unmapped = unplaced || col("l_partkey") % 11 === 0
    val reads = li.select(
      concat(lit("i"), col("l_orderkey"), lit("_"),
        col("l_linenumber")).as("readName"),
      when(unmapped, 4).otherwise(0).as("flag"),
      when(unplaced, "*")
        .otherwise(when(col("l_suppkey") % 2 === 0, "chr1")
          .otherwise("chr2")).as("referenceName"),
      when(unplaced, 0).otherwise(col("l_partkey") % 100000 + 1)
        .cast("int").as("start"),
      lit(60).as("mapQ"),
      when(unmapped, "*").otherwise(lit("10M")).as("cigar"),
      lit("*").as("rnext"), lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val refs = Seq("chr1" -> 200000, "chr2" -> 200000)
    val header = "@HD\tVN:1.6\tSO:coordinate\n" +
      refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x91_$sfTag/sample.bam"
    BamWriter.sortAndWrite(reads, header, refs, out, index = true)
    val conf = s.sparkContext.hadoopConfiguration
    // metadata-only enforcement: no Spark job may start during the
    // idxstats call; the marker job flushes the ordered listener bus so
    // the count is complete before it is read
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    s.sparkContext.addSparkListener(listener)
    val (stats, metaOnlyOk) =
      try {
        val r = Idxstats.rows(out, conf)
        s.sparkContext.parallelize(Seq(1), 1).count() // marker
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (jobs.get() < 1 && System.nanoTime() < deadline)
          Thread.sleep(10)
        (r, jobs.get() == 1) // exactly the marker
      } finally s.sparkContext.removeSparkListener(listener)
    // full-scan restatement: the same counts from the records themselves
    val scanned = s.read.format("bam").load(out)
      .groupBy(col("referenceName"))
      .agg(
        sum(when(col("flag").bitwiseAND(lit(4)) === 0, 1L).otherwise(0L))
          .as("m"),
        sum(when(col("flag").bitwiseAND(lit(4)) =!= 0, 1L).otherwise(0L))
          .as("u"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val scanMatchOk = stats.forall { c =>
      val (m, u) = scanned.getOrElse(c.contig, (0L, 0L))
      c.nMapped == m && c.nUnmapped == u
    } && scanned.keySet.subsetOf(stats.map(_.contig).toSet)
    import s.implicits._
    stats.map(c => (c.contig, c.length, c.nMapped, c.nUnmapped,
        metaOnlyOk, scanMatchOk))
      .toDF("contig", "length", "n_mapped", "n_unmapped",
        "meta_only_ok", "scan_match_ok")
      .orderBy("contig")
  }

  val x91Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 31 = 5),
      |r AS (SELECT
      |    CASE WHEN l_partkey % 7 = 0 THEN '*'
      |         WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chr2'
      |    END AS contig,
      |    CASE WHEN l_partkey % 7 = 0 OR l_partkey % 11 = 0 THEN 1 ELSE 0
      |    END AS unm
      |  FROM li),
      |g AS (SELECT contig, SUM(1 - unm) AS m, SUM(unm) AS u
      |  FROM r GROUP BY contig),
      |ids AS (SELECT * FROM (VALUES ('*', 0), ('chr1', 200000),
      |  ('chr2', 200000)) AS t(contig, length))
      |SELECT ids.contig AS contig, CAST(ids.length AS BIGINT) AS length,
      |  CAST(COALESCE(g.m, 0) AS BIGINT) AS n_mapped,
      |  CAST(COALESCE(g.u, 0) AS BIGINT) AS n_unmapped,
      |  true AS meta_only_ok, true AS scan_match_ok
      |FROM ids LEFT JOIN g ON g.contig = ids.contig
      |ORDER BY contig""".stripMargin

  // ---------------------------------------------------------------- x92
  /** LONG-CONTIG `.csi` INDEX-ON-WRITE gate (r16, VERDICT r15 #4): a
    * dictionary whose longest contig exceeds BAI's 2^29 cap (a 710 Mb
    * wheat-chromosome-sized contig) must get a `.csi` — never a
    * `.bai` — emitted DURING the write, and the auto-selection must
    * ride [[graft.sources.BamMerge.merge]] unchanged. Two per-sample
    * BAMs merge with `index = true`; the gate asserts in-row that the
    * cohort carries `.csi` and not `.bai`, then runs a region query
    * PAST the 2^29 boundary through the write-emitted sidecar: pruned
    * rows ≡ the unpruned single-split filter, planning strictly fewer
    * partitions. Oracle-checked: counts and start mass restate the
    * synthesis arithmetic. */
  def x92CsiMergeGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamMerge, BamWriter, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 29 === 11)
    def reads(k: Int) = li.where(col("l_linenumber") % 2 === k)
      .select(
        concat(lit("w"), col("l_orderkey"), lit("_"),
          col("l_linenumber")).as("readName"),
        lit(0).as("flag"),
        when(col("l_suppkey") % 5 === 0, "MT").otherwise("wheat1")
          .as("referenceName"),
        when(col("l_suppkey") % 5 === 0, col("l_partkey") % 16000 + 1)
          .otherwise((col("l_partkey") % 700) * 1000000 +
            col("l_suppkey") + 1)
          .cast("int").as("start"),
        lit(60).as("mapQ"), lit("10M").as("cigar"),
        lit("*").as("rnext"), lit(0).as("pnext"), lit(0).as("tlen"),
        lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
        concat(lit("RG:Z:wg"), lit(k)).as("attributes"))
    val refs = Seq("wheat1" -> 710000000, "MT" -> 16569)
    def header(k: Int) = "@HD\tVN:1.6\tSO:coordinate\n" +
      refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString +
      s"@RG\tID:wg$k\tSM:w$k\n"
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x92_$sfTag"
    val paths = (0 to 1).map { k =>
      val p = s"$root/s$k.bam"
      BamWriter.sortAndWrite(reads(k), header(k), refs, p)
      p
    }
    val cohort = s"$root/cohort.bam"
    val nMerged = BamMerge.merge(s, paths, cohort, index = true)
    val conf = s.sparkContext.hadoopConfiguration
    val csiOk =
      graft.sources.CsiIndex.exists(cohort, conf) &&
        !HadoopIO.exists(cohort + ".bai", conf)
    // region query PAST 2^29 through the write-emitted .csi
    def scanSplit = s.read.format("bam").option("splitsize", 4096)
      .load(cohort)
    val regionPred = col("referenceName") === "wheat1" &&
      col("start") >= 560000000 && col("start") < 600000000
    val prunedRows = scanSplit.where(regionPred)
      .select("readName").collect().map(_.getString(0)).sorted.toSeq
    val fullRows = s.read.format("bam")
      .option("splitsize", Int.MaxValue).load(cohort).where(regionPred)
      .select("readName").collect().map(_.getString(0)).sorted.toSeq
    val iowRegionOk = prunedRows == fullRows
    // strict <: the 4 KiB splitsize fixture plans many partitions
    val iowPrunedOk = scanSplit.where(regionPred).rdd.getNumPartitions <
      scanSplit.rdd.getNumPartitions
    val back = s.read.format("bam").load(cohort)
    back.agg(
        count(lit(1)).as("n_reads"),
        sum((col("referenceName") === "MT").cast("long")).as("n_mt"),
        sum(col("start").cast("long")).as("sum_start"),
        sum(when(regionPred, 1L).otherwise(0L)).as("n_region"))
      .select(col("*"),
        (lit(nMerged) === col("n_reads")).as("merge_count_ok"),
        lit(csiOk).as("csi_ok"),
        lit(iowRegionOk).as("iow_region_ok"),
        lit(iowPrunedOk).as("iow_pruned_ok"))
  }

  val x92Sql: String =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem WHERE l_orderkey % 29 = 11),
      |r AS (SELECT
      |    CASE WHEN l_suppkey % 5 = 0 THEN 1 ELSE 0 END AS mt,
      |    CASE WHEN l_suppkey % 5 = 0 THEN (l_partkey % 16000) + 1
      |         ELSE (l_partkey % 700) * 1000000 + l_suppkey + 1
      |    END AS start
      |  FROM li)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(mt) AS BIGINT) AS n_mt,
      |  CAST(SUM(start) AS BIGINT) AS sum_start,
      |  CAST(SUM(CASE WHEN mt = 0 AND start >= 560000000
      |    AND start < 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_region,
      |  true AS merge_count_ok, true AS csi_ok, true AS iow_region_ok,
      |  true AS iow_pruned_ok
      |FROM r""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x18_coverage_intervals" -> (x18CoverageIntervals _),
    "x19_insert_size"        -> (x19InsertSize _),
    "x20_vcf_gate"           -> (x20VcfGate _),
    "x21_downsample_gate"    -> (x21DownsampleGate _),
    "x22_nm_audit"           -> (x22NmAudit _),
    "x23_base_composition"   -> (x23BaseComposition _),
    "x24_workflow_gate"      -> (x24WorkflowGate _),
    "x25_stream_depth_gate"  -> (x25StreamDepthGate _),
    "x26_haplogroup"         -> (x26Haplogroup _),
    "x27_mtdna_cn"           -> (x27MtCopyNumber _),
    "x28_interval_intersect" -> (x28IntervalIntersect _),
    "x29_interval_merge"     -> (x29IntervalMerge _),
    "x30_interval_subtract"  -> (x30IntervalSubtract _),
    "x31_n50_stats"          -> (x31N50 _),
    "x32_closest_interval"   -> (x32ClosestInterval _),
    "x33_target_coverage"    -> (x33TargetCoverage _),
    "x34_closest_unbounded"  -> (x34ClosestUnbounded _),
    "x35_genotype_gate"      -> (x35GenotypeGate _),
    "x36_genotype_concordance" -> (x36GenotypeConcordance _),
    "x37_mendelian_violations" -> (x37MendelianViolations _),
    "x38_allele_spectrum"    -> (x38AlleleSpectrum _),
    "x39_variant_qc"         -> (x39VariantQc _),
    "x40_fasta_gate"         -> (x40FastaRoundtrip _),
    "x41_indexed_workflow_gate" -> (x41IndexedWorkflow _),
    "x42_kmer_spectrum"      -> (x42KmerSpectrum _),
    "x43_liftover"           -> (x43LiftOver _),
    "x44_kinship_tallies"    -> (x44KinshipTallies _),
    "x45_roh_runs"           -> (x45RohRuns _),
    "x46_trinuc_spectrum"    -> (x46TrinucSpectrum _),
    "x47_faidx_regions_gate" -> (x47FaidxRegions _),
    "x48_callable_loci"      -> (x48CallableLoci _),
    "x49_bed_roundtrip_gate" -> (x49BedRoundtrip _),
    "x50_depth_uniformity"   -> (x50DepthUniformity _),
    "x51_gc_bias"            -> (x51GcBias _),
    "x52_consensus_pileup"   -> (x52Consensus _),
    "x53_bqsr_table"         -> (x53BqsrTable _),
    "x54_sv_clusters"        -> (x54SvClusters _),
    "x55_cnv_segments"       -> (x55CnvSegments _),
    "x56_umi_collapse"       -> (x56UmiCollapse _),
    "x57_phase_by_transmission" -> (x57PhaseByTransmission _),
    "x58_hwe_stats"          -> (x58HweStats _),
    "x59_splice_junctions"   -> (x59SpliceJunctions _),
    "x60_vcf_normalize"      -> (x60VcfNormalize _),
    "x61_split_read_sv"      -> (x61SplitReadSv _),
    "x62_somatic_subtract"   -> (x62SomaticSubtract _),
    "x63_switch_errors"      -> (x63SwitchErrors _),
    "x64_tdt"                -> (x64TdtTallies _),
    "x65_sex_infer"          -> (x65SexInfer _),
    "x66_contamination"      -> (x66Contamination _),
    "x67_pon_normalize"      -> (x67PonNormalize _),
    "x68_inbreeding"         -> (x68Inbreeding _),
    "x69_tpm_quant"          -> (x69TpmQuant _),
    "x70_prs_score"          -> (x70PrsScore _),
    "x71_site_qc"            -> (x71SiteQc _),
    "x72_gvcf_bands"         -> (x72GvcfBands _),
    "x73_fastq_gate"         -> (x73FastqGate _),
    "x74_adapter_trim"       -> (x74AdapterTrim _),
    "x75_split_multiallelic" -> (x75SplitMultiallelic _),
    "x76_gt_from_pl"         -> (x76GtFromPl _),
    "x77_cycle_quality"      -> (x77CycleQuality _),
    "x78_enrichment"         -> (x78Enrichment _),
    "x79_paired_fastq_gate"  -> (x79PairedFastq _),
    "x81_quality_trim"       -> (x81QualityTrim _),
    "x82_ubam_gate"          -> (x82UbamGate _),
    "x83_stream_trim_gate"   -> (x83StreamTrimGate _),
    "x84_vcf_region_gate"    -> (x84VcfRegionGate _),
    "x85_dist_index_gate"    -> (x85DistIndexGate _),
    "x86_stream_bam_gate"    -> (x86StreamBamGate _),
    "x88_bam_merge_gate"     -> (x88BamMergeGate _),
    "x89_stream_prune_gate"  -> (x89StreamPruneGate _),
    "x91_idxstats_gate"      -> (x91IdxstatsGate _),
    "x92_csi_merge_gate"     -> (x92CsiMergeGate _),
    "x87_cohort_merge_gate"  -> (x87CohortMergeGate _))

  val oracles: Map[String, String] = Map(
    "x18_coverage_intervals" -> x18Sql,
    "x19_insert_size"        -> x19Sql,
    "x20_vcf_gate"           -> x20Sql,
    "x21_downsample_gate"    -> x21Sql,
    "x22_nm_audit"           -> x22Sql,
    "x23_base_composition"   -> x23Sql,
    "x24_workflow_gate"      -> x24Sql,
    "x25_stream_depth_gate"  -> x25Sql,
    "x26_haplogroup"         -> x26Sql,
    "x27_mtdna_cn"           -> x27Sql,
    "x28_interval_intersect" -> x28Sql,
    "x29_interval_merge"     -> x29Sql,
    "x30_interval_subtract"  -> x30Sql,
    "x31_n50_stats"          -> x31Sql,
    "x32_closest_interval"   -> x32Sql,
    "x33_target_coverage"    -> x33Sql,
    "x34_closest_unbounded"  -> x34Sql,
    "x35_genotype_gate"      -> x35Sql,
    "x36_genotype_concordance" -> x36Sql,
    "x37_mendelian_violations" -> x37Sql,
    "x38_allele_spectrum"    -> x38Sql,
    "x39_variant_qc"         -> x39Sql,
    "x40_fasta_gate"         -> x40Sql,
    "x41_indexed_workflow_gate" -> x41Sql,
    "x42_kmer_spectrum"      -> x42Sql,
    "x43_liftover"           -> x43Sql,
    "x44_kinship_tallies"    -> x44Sql,
    "x45_roh_runs"           -> x45Sql,
    "x46_trinuc_spectrum"    -> x46Sql,
    "x47_faidx_regions_gate" -> x47Sql,
    "x48_callable_loci"      -> x48Sql,
    "x49_bed_roundtrip_gate" -> x49Sql,
    "x50_depth_uniformity"   -> x50Sql,
    "x51_gc_bias"            -> x51Sql,
    "x52_consensus_pileup"   -> x52Sql,
    "x53_bqsr_table"         -> x53Sql,
    "x54_sv_clusters"        -> x54Sql,
    "x55_cnv_segments"       -> x55Sql,
    "x56_umi_collapse"       -> x56Sql,
    "x57_phase_by_transmission" -> x57Sql,
    "x58_hwe_stats"          -> x58Sql,
    "x59_splice_junctions"   -> x59Sql,
    "x60_vcf_normalize"      -> x60Sql,
    "x61_split_read_sv"      -> x61Sql,
    "x62_somatic_subtract"   -> x62Sql,
    "x63_switch_errors"      -> x63Sql,
    "x64_tdt"                -> x64Sql,
    "x65_sex_infer"          -> x65Sql,
    "x66_contamination"      -> x66Sql,
    "x67_pon_normalize"      -> x67Sql,
    "x68_inbreeding"         -> x68Sql,
    "x69_tpm_quant"          -> x69Sql,
    "x70_prs_score"          -> x70Sql,
    "x71_site_qc"            -> x71Sql,
    "x72_gvcf_bands"         -> x72Sql,
    "x73_fastq_gate"         -> x73Sql,
    "x74_adapter_trim"       -> x74Sql,
    "x75_split_multiallelic" -> x75Sql,
    "x76_gt_from_pl"         -> x76Sql,
    "x77_cycle_quality"      -> x77Sql,
    "x78_enrichment"         -> x78Sql,
    "x79_paired_fastq_gate"  -> x79Sql,
    "x81_quality_trim"       -> x81Sql,
    "x82_ubam_gate"          -> x82Sql,
    "x83_stream_trim_gate"   -> x83Sql,
    "x84_vcf_region_gate"    -> x84Sql,
    "x85_dist_index_gate"    -> x85Sql,
    "x86_stream_bam_gate"    -> x86Sql,
    "x88_bam_merge_gate"     -> x88Sql,
    "x89_stream_prune_gate"  -> x89Sql,
    "x91_idxstats_gate"      -> x91Sql,
    "x92_csi_merge_gate"     -> x92Sql,
    "x87_cohort_merge_gate"  -> x87Sql)
}
