package graft.mito

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SAM alignment source — a thin, Catalyst-visible text source.
  *
  * The reference loads BAM via ADAM (`BamReader.scala:100-102,172-174`);
  * offline we read SAM text (same logical record) straight into a DataFrame
  * with only builtin expressions, so filter pushdown / column pruning apply
  * from the first operator on (unlike the reference's RDD hop, SURVEY §4.2
  * defect D2). The distributed scan shape is identical: line-splittable
  * text, per-split tasks.
  *
  * Consumed fields mirror reference `Feature.scala:115-127`:
  * QNAME FLAG RNAME POS MAPQ SEQ + optional TAG:TYPE:VALUE attributes.
  */
object Sam {

  /** Flag bits (SAM spec §1.4). */
  val ReadPaired = 1
  val ProperPair = 2
  val MateUnmapped = 8
  val NotPrimary = 256
  val Supplementary = 2048

  /** Read a SAM text file (or glob) into an alignment DataFrame. Header
    * lines (@...) are dropped by a pushed filter. */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))

  /** Parse a DataFrame of raw SAM lines (column `value`) — the same record
    * decoder whether lines come from files, a stream, or are synthesized. */
  def parse(lines: DataFrame): DataFrame = {
    val f = split(col("value"), "\t")
    lines
      .where(!col("value").startsWith("@") && length(trim(col("value"))) > 0)
      .select(
        col("value").as("line"), // original record, for lossless re-emission
        element_at(f, 1).as("readName"),
        element_at(f, 2).cast(IntegerType).as("flag"),
        element_at(f, 3).as("referenceName"),
        element_at(f, 4).cast(IntegerType).as("start"),
        element_at(f, 5).cast(IntegerType).as("mapQ"),
        element_at(f, 6).as("cigar"),
        element_at(f, 7).as("rnext"),
        element_at(f, 8).cast(IntegerType).as("pnext"),
        element_at(f, 9).cast(IntegerType).as("tlen"),
        element_at(f, 10).as("sequence"),
        element_at(f, 11).as("qual"),
        array_join(slice(f, 12, 1 << 20), " ").as("attributes"))
      .transform(withFlags)
  }

  /** Load a sample component by base path without extension: prefers
    * `<base>.bam` (binary DataSource V2 scan) over `<base>.sam` (text).
    * Either way the output schema + flag expansion are identical. */
  def readAuto(spark: SparkSession, base: String): DataFrame = {
    val bam = base + ".bam"
    if (graft.sources.HadoopIO.exists(bam, graft.sources.HadoopIO.driverConf()))
      withFlags(spark.read.format("bam").load(bam))
    else {
      val sam = resolveSamText(base)
      if (sam.endsWith(".sam")) read(spark, sam)
      // compressed SAM text: the `sam` DSv2's BGZF reader (intra-file
      // byte-range splits) — same schema as the text parser + flag
      // expansion, so the pipeline is format-blind
      else withFlags(spark.read.format("sam").load(sam))
    }
  }

  /** Existing SAM-text path for a base: `.sam`, else `.sam.gz`, else
    * `.sam.bgz` — real archives ship bgzip-compressed text. Falls back to
    * `.sam` when none exist so the downstream error names the plain
    * path. */
  def resolveSamText(base: String): String =
    Seq(".sam", ".sam.gz", ".sam.bgz").map(base + _)
      .find(p =>
        graft.sources.HadoopIO.exists(p, graft.sources.HadoopIO.driverConf()))
      .getOrElse(base + ".sam")

  /** Reference dictionary + header text from a SAM text header (for
    * writing BAM output when the inputs were SAM text): a driver-side
    * stream read of the leading `@` lines, which are KB-sized and live at
    * the file head. `.gz`/`.bgz` text inflates on the way: BGZF IS gzip,
    * and the JDK's GZIPInputStream walks concatenated members, so one
    * reader covers bgzip and plain gzip. */
  def headerFromSam(spark: SparkSession, path: String): (String, Seq[(String, Int)]) = {
    val raw = graft.sources.HadoopIO.open(path,
      spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      if (path.endsWith(".gz") || path.endsWith(".bgz"))
        new java.util.zip.GZIPInputStream(raw)
      else raw, "UTF-8"))
    val lines =
      try Iterator.continually(in.readLine())
        .takeWhile(l => l != null && l.startsWith("@")).toArray
      finally in.close()
    val refs = lines.filter(_.startsWith("@SQ")).map { l =>
      val kv = l.split("\t").drop(1).map(_.split(":", 2)).map(a => a(0) -> a(1)).toMap
      (kv("SN"), kv("LN").toInt)
    }
    (lines.mkString("", "\n", "\n"), refs.toSeq)
  }

  /** Expand the SAM FLAG bitfield into the boolean columns the validity
    * predicate consumes. Applies to any frame with a `flag` column
    * (Sam.parse output or the `sam` DataSource V2 scan). */
  def withFlags(df: DataFrame): DataFrame =
    // one select, not a withColumn per flag: each Dataset step re-runs the
    // analyzer over the whole plan
    df.select(col("*"),
      (col("flag").bitwiseAND(ReadPaired) =!= 0).as("readPaired"),
      (col("flag").bitwiseAND(ProperPair) =!= 0).as("properPair"),
      (col("flag").bitwiseAND(MateUnmapped) === 0).as("mateMapped"),
      (col("flag").bitwiseAND(NotPrimary) === 0).as("primaryAlignment"),
      (col("flag").bitwiseAND(Supplementary) =!= 0).as("supplementaryAlignment"))

  /** Validity predicate (reference `Feature.scala:115-119`): primary,
    * paired, proper pair, mate mapped, not supplementary.
    *
    * Formulated as ONE bitmask test on `flag` — `(flag & 2315) == 3` —
    * instead of a conjunction over the five derived boolean columns:
    * predicate pushdown substitutes aliased columns with their full
    * derivations, and FilterExec codegen performs no subexpression
    * elimination, so the five-column form re-derived `flag` (and its
    * upstream line split) five times per record (measured ~7× the cost of
    * this form in the feature path). */
  val isValid: Column = {
    val mask = ReadPaired | ProperPair | MateUnmapped | NotPrimary | Supplementary
    val want = ReadPaired | ProperPair // the negated bits must be 0
    col("flag").bitwiseAND(mask) === want
  }

  /** SAM optional-attribute map: "TAG:TYPE:VALUE ..." → map<tag,value>
    * (reference `Feature.scala:80-96`). Pure builtins (split + transform +
    * map_from_entries) — stays in codegen. */
  def attrMap(attributes: Column): Column =
    map_from_entries(
      transform(
        filter(split(attributes, "\\s+"), t => length(t) > 0),
        t => {
          // limit-3 split: [tag, type, value]; value may itself contain
          // ':' (kept intact by the limit). Cheaper than a regexp strip —
          // this runs per tag per record in the feature hot path.
          val parts = split(t, ":", 3)
          struct(
            element_at(parts, 1).as("key"),
            element_at(parts, 3).as("value"))
        }))

  /** Tag extraction with the reference's defaults
    * (`Feature.scala:122-124`): NM→0, NH→1, XQ→0. */
  def tagOrDefault(m: Column, tag: String, default: Int): Column =
    coalesce(element_at(m, tag).cast(IntegerType), lit(default))

  /** Write alignments as one SAM text file (reference sink K1,
    * `MTClassify.scala:204`, wrote one BAM) under an explicit header (e.g.
    * reconstructed from a BAM dictionary), through the distributed
    * [[graft.sources.TextSink]] commit: no `coalesce(1)`, and an `out`
    * ending `.gz`/`.bgz` lands as BGZF text that the `sam` source scans
    * with intra-file splits. Returns the number of records written. */
  def writeSingleSamWithHeader(header: Seq[String], records: DataFrame,
      out: String): Long =
    graft.sources.TextSink.write(header, records.select(col("line")), out)
}
