package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for VCF (`spark.read.format("vcf")`) — the
  * interchange format DOWNSTREAM of the reference's classified BAM
  * (ref README.md:50-52 sends it to a variant caller; the LD dim the
  * reference broadcasts is itself VCF-shaped, LD.scala:40-45). Previously
  * the engine's VCF reads were driver-path helpers over `spark.read.text`
  * (plain text only, no pruning); this source gives cohort VCFs the same
  * scan surface as `sam`/`bam`/`fastq`:
  *
  *  - intra-file SPLIT parallelism (`splitsize` option) for plain text
  *    and bgzip'd `.vcf.gz`/`.vcf.bgz` (BGZF member ownership — a record
  *    line belongs to the split holding its first byte's member; plain
  *    single-stream gzip degrades to one whole-file split, never
  *    mis-decodes);
  *  - `.tbi`/`.csi` REGION PRUNING ([[Tabix]]): a pushed
  *    (contig = 'c' AND pos bounds) predicate plans the index's member
  *    runs on the DRIVER and emits partitions ONLY for those byte
  *    ranges — everything else is never read, let alone decompressed
  *    (the BAM source's `.bai` discipline applied to text);
  *  - projection pushdown: unrequested fields are never materialized —
  *    pruning `genotypes` skips the per-sample splitting entirely, the
  *    dominant per-line cost on cohort VCFs;
  *  - decoder-fuzz discipline: a structurally broken record (< 8 tab
  *    fields — the truncation shape) RAISES naming the offset; field-
  *    level leniency (an unparseable POS → null) stays in the helpers'
  *    strict/lenient layer ([[VcfWriter.read]]), matching their
  *    documented semantics.
  *
  * Schema: line, contig, pos (LONG, null when unparseable), id, ref,
  * alt, qual (DOUBLE, '.' → null), filter, info, format (null when
  * absent), genotypes (ARRAY<STRING>, null when absent). '.' markers in
  * string fields pass through verbatim — interpretation is the
  * consumer's contract. */
class VcfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vcf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VcfDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    new VcfTable(properties.asScala.toMap)
  }
}

object VcfDataSource {
  val schema: StructType = StructType(Seq(
    StructField("line", StringType, nullable = false),
    StructField("contig", StringType, nullable = false),
    StructField("pos", LongType, nullable = true),
    StructField("id", StringType, nullable = true),
    StructField("ref", StringType, nullable = true),
    StructField("alt", StringType, nullable = true),
    StructField("qual", DoubleType, nullable = true),
    StructField("filter", StringType, nullable = true),
    StructField("info", StringType, nullable = true),
    StructField("format", StringType, nullable = true),
    StructField("genotypes", ArrayType(StringType, containsNull = true),
      nullable = true)))

  /** Header lines (driver-side, KB-sized), through whichever codec the
    * file carries — the `#CHROM` line yields the sample list. */
  def headerLines(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val codec = SamDataSource.fileCodec(path, conf)
    val lines: FastqLines = codec match {
      case "bgzf" => new FastqBgzfLines(path, 0L, conf)
      case "gzip" => new FastqGzipLines(path, conf)
      case _      => new FastqPlainLines(path, 0L, conf)
    }
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var done = false
      while (!done) {
        val l = lines.next()
        if (l == null || !l._1.startsWith("#")) done = true
        else out += l._1
      }
      out.toSeq
    } finally lines.close()
  }

  def headerSamples(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    headerLines(path, conf).lastOption
      .filter(_.startsWith("#CHROM"))
      .map(_.split("\t").drop(9).toSeq)
      .getOrElse(Nil)

  /** `##contig=<ID=...,length=...>` lines in header order — the
    * reference dictionary a merge/rewrite must carry forward. */
  def headerContigs(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Int)] =
    headerLines(path, conf).filter(_.startsWith("##contig=<")).flatMap { l =>
      val body = l.stripPrefix("##contig=<").stripSuffix(">")
      val kv = body.split(",").flatMap { f =>
        f.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _           => None
        }
      }.toMap
      for {
        id <- kv.get("ID")
        len <- kv.get("length").flatMap(_.toIntOption)
      } yield (id, len)
    }
}

/** Pushed-predicate algebra over (contig, pos) — the VCF face of
  * [[SamFilters]]; `pos` is 1-based like SAM `start`, so the 0-based
  * region math mirrors [[BaiIndex.region]]. */
object VcfFilters {
  /** `pos` is nullable (an unparseable POS decodes to null): each
    * predicate decides its OWN null semantics — a pos comparison with
    * null pos is not-true (SQL), while a contig-only equality never
    * consults pos, so `contig = 'c'` keeps lenient-null-pos rows exactly
    * as the same filter over an unpushed scan would (ADVICE r13: a
    * blanket `pos != null` gate silently dropped them only when the
    * predicate was pushed). */
  sealed trait Pred extends Serializable {
    def eval(contig: String, pos: java.lang.Long): Boolean
  }
  final case class ContigEq(v: String) extends Pred {
    override def eval(c: String, p: java.lang.Long): Boolean = c == v
    override def toString: String = s"(contig = '$v')"
  }
  final case class PosCmp(op: String, v: Long) extends Pred {
    override def eval(c: String, p0: java.lang.Long): Boolean = {
      if (p0 == null) return false
      val p = p0.longValue()
      op match {
        case "="  => p == v
        case "<"  => p < v
        case "<=" => p <= v
        case ">"  => p > v
        case ">=" => p >= v
      }
    }
    override def toString: String = s"(pos $op $v)"
  }
  final case class AndP(l: Pred, r: Pred) extends Pred {
    override def eval(c: String, p: java.lang.Long): Boolean =
      l.eval(c, p) && r.eval(c, p)
    override def toString: String = s"($l AND $r)"
  }
  /** Disjunction of region windows — the MULTI-region `region` read
    * option ([[SamFilters.InRegions]]'s VCF face; a null POS matches no
    * window, SQL not-true). Only the option channel builds it. */
  final case class InRegions(rs: Seq[(String, Long, Long)]) extends Pred {
    override def eval(c: String, p0: java.lang.Long): Boolean = {
      if (p0 == null) return false
      val p = p0.longValue()
      var i = 0
      while (i < rs.length) {
        val (rc, b, e) = rs(i)
        if (c == rc && p >= b && p <= e) return true
        i += 1
      }
      false
    }
    override def toString: String = rs.map { case (rc, b, e) =>
      if (e == Long.MaxValue) rc else s"$rc:$b-$e"
    }.mkString("(region IN [", ", ", "])")
  }

  def convert(p: V2Predicate): Option[Pred] = p match {
    case a: V2And =>
      for { l <- convert(a.left()); r <- convert(a.right()) } yield AndP(l, r)
    case _ => p.name() match {
      case op @ ("=" | "<" | "<=" | ">" | ">=") =>
        val ch = p.children()
        if (ch.length != 2) None
        else cmp(op, ch(0), ch(1)).orElse(cmp(flip(op), ch(1), ch(0)))
      case _ => None
    }
  }

  private def flip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case o => o
  }

  private def cmp(op: String, a: V2Expression, b: V2Expression): Option[Pred] =
    (a, b) match {
      case (f: NamedReference, l: V2Literal[_])
          if f.fieldNames().length == 1 =>
        f.fieldNames()(0) match {
          case "pos" => longVal(l).map(PosCmp(op, _))
          case "contig" if op == "=" => strVal(l).map(ContigEq)
          case _ => None
        }
      case _ => None
    }

  private def longVal(l: V2Literal[_]): Option[Long] = l.value() match {
    case i: java.lang.Integer => Some(i.toLong)
    case i: java.lang.Long    => Some(i.longValue())
    case i: java.lang.Short   => Some(i.toLong)
    case i: java.lang.Byte    => Some(i.toLong)
    case _                    => None
  }
  private def strVal(l: V2Literal[_]): Option[String] = l.value() match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case s: String                                   => Some(s)
    case _                                           => None
  }

  /** The region the predicate set constrains (0-based half-open), or
    * None when a binned index cannot prune it — [[BaiIndex.region]]'s
    * rules over (contig, pos). */
  def region(preds: Seq[Pred], names: Array[String],
      maxPos: Long): Option[(Int, Long, Long)] = {
    val flat = scala.collection.mutable.ArrayBuffer.empty[Pred]
    def walk(p: Pred): Unit = p match {
      case AndP(l, r) => walk(l); walk(r)
      case other      => flat += other
    }
    preds.foreach(walk)
    val refIds = flat.collect { case ContigEq(v) => names.indexOf(v) }.distinct
    if (refIds.length != 1 || refIds.head < 0) return None
    def clamp(v: Long): Long = math.min(maxPos, math.max(0L, v))
    var beg = 0L
    var end = maxPos
    flat.foreach {
      case PosCmp(op, v) => op match {
        case ">=" => beg = math.max(beg, clamp(v - 1))
        case ">"  => beg = math.max(beg, clamp(v))
        case "<=" => end = math.min(end, clamp(v))
        case "<"  => end = math.min(end, clamp(v - 1))
        case "="  => beg = math.max(beg, clamp(v - 1)); end = math.min(end, clamp(v))
      }
      case _ => ()
    }
    Some((refIds.head, beg, math.max(beg, end)))
  }

  def evalAll(preds: Seq[Pred], contig: String, pos: java.lang.Long): Boolean = {
    var i = 0
    while (i < preds.length) {
      if (!preds(i).eval(contig, pos)) return false
      i += 1
    }
    true
  }
}

class VcfTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"vcf(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = VcfDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // parsed once (ADVICE r15); `region` option → the same preds a
    // pushed .where() produces (POS-based, 1-based inclusive; several
    // windows → an OR the pushdown algebra can't express, so a
    // dedicated disjunction pred); the channel that reaches STREAMING
    // scans, where Spark performs no predicate pushdown
    val regions = SamDataSource.regionsOption(options)
    val regionPreds = regions match {
      case Nil => Nil
      case Seq((c, b, e)) =>
        VcfFilters.ContigEq(c) +:
          (Seq(VcfFilters.PosCmp(">=", b)) ++
            (if (e == Long.MaxValue) Nil
             else Seq(VcfFilters.PosCmp("<=", e))))
      case many => Seq(VcfFilters.InRegions(many))
    }
    new VcfScanBuilder(SamDataSource.resolvePaths(options),
      SamDataSource.splitSize(options), regionPreds, regions)
  }
}

class VcfScanBuilder(paths: Seq[String], splitSize: Option[Long],
    regionPreds: Seq[VcfFilters.Pred] = Nil,
    regions: Seq[(String, Long, Long)] = Nil)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {
  private var required: StructType = VcfDataSource.schema
  private var pushed: Array[V2Predicate] = Array.empty
  private var preds: Seq[VcfFilters.Pred] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushPredicates(predicates: Array[V2Predicate]): Array[V2Predicate] = {
    val (ok, rest) = predicates.partition(p => VcfFilters.convert(p).isDefined)
    pushed = ok
    preds = ok.toSeq.flatMap(p => VcfFilters.convert(p))
    rest
  }
  override def pushedPredicates(): Array[V2Predicate] = pushed
  override def build(): Scan =
    new VcfScan(paths, splitSize, required, regionPreds ++ preds, regions)
}

class VcfScan(paths: Seq[String], splitSize: Option[Long], required: StructType,
    preds: Seq[VcfFilters.Pred],
    regions: Seq[(String, Long, Long)] = Nil) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"vcf PushedFilters: [${preds.mkString(", ")}]"

  /** Pruning happens at PLANNING: with a region-shaped predicate and a
    * `.tbi`/`.csi` sidecar, only the index's member runs become
    * partitions — pruned members never even schedule a task (the text
    * analogue of the BAM source's run protocol; chopped run tails sync
    * by member-line ownership like any mid-file split). */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = HadoopIO.driverConf()
    val (files, split) = SamDataSource.batchTargets(paths, splitSize, conf)
    files.flatMap { case (p, size) =>
      VcfScan.planFile(p, size, split, preds, conf, regions)
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(required.fieldNames, preds, HadoopIO.capture())

  /** Landing-dir micro-batch streaming (r15, VERDICT r14 #4): cohort
    * VCFs land in a directory like the `fastq`/`sam`/`bam` drops, and —
    * because the per-file planner is [[VcfScan.planFile]], the same one
    * the batch scan uses — a pushed region predicate prunes every
    * landed file's splits at BATCH PLANNING through its `.tbi`/`.csi`
    * sidecar (index-on-write emits one during the producing write), so
    * a region-filtered stream never schedules tasks over members the
    * index excludes. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val fields = required.fieldNames
    val ps = preds
    val rgs = regions
    new LandingDirMicroBatchStream(paths, splitSize, "vcf",
      () => new VcfReaderFactory(fields, ps, HadoopIO.capture()),
      planFile = (p, size, split, conf) =>
        VcfScan.planFile(p, size, split, ps, conf, rgs))
  }
}

object VcfScan {
  /** One file's partitions: index-pruned member runs when a
    * region-shaped predicate and a `.tbi`/`.csi` sidecar exist,
    * byte-range splits otherwise. Shared by the batch scan and the
    * landing-dir micro-batch stream (so streamed region scans prune at
    * planning exactly like batch ones). */
  private[sources] def planFile(p: String, size: Long, splitSize: Long,
      preds: Seq[VcfFilters.Pred],
      conf: org.apache.hadoop.conf.Configuration,
      regions: Seq[(String, Long, Long)] = Nil): Seq[SamInputPartition] = {
    val codec = SamDataSource.fileCodec(p, conf)
    def plain(): Seq[SamInputPartition] =
      SamDataSource.byteRanges(p, size, splitSize, codec)
    if (codec != "bgzf" || preds.isEmpty) plain()
    else {
      val idx: Option[(Array[String], Long, (Int, Long, Long) => Seq[BaiIndex.Chunk])] =
        if (Tabix.exists(p, conf)) {
          val tbi = Tabix.read(p, conf)
          Some((tbi.names, BaiIndex.MaxPos.toLong,
            (r, b, e) => BaiIndex.chunks(tbi.bai, r, b.toInt, e.toInt)))
        } else if (CsiIndex.exists(p, conf)) {
          val csi = CsiIndex.read(p, conf)
          scala.util.Try(Tabix.csiNames(csi.aux)).toOption.map { nm =>
            (nm, CsiIndex.maxPos(csi.minShift, csi.depth).toLong,
              (r: Int, b: Long, e: Long) =>
                CsiIndex.chunks(csi, r, b.toInt, e.toInt))
          }
        } else None
      def runParts(runs: Seq[(Long, Int, Long)]): Seq[SamInputPartition] =
        SamDataSource.runParts(p, runs, splitSize, codec)
      idx match {
        case None => plain()
        case Some((names, maxPos, chunksOf)) =>
          if (regions.size >= 2) {
            // multi-region: union of the windows' chunks; memberRuns
            // sorts and merges touching spans, so overlapping windows
            // stay exactly-once. An unknown contig contributes nothing
            // (no record can match the disjunction either). Zero
            // windows → zero partitions, not a full scan.
            val chunks = regions.flatMap { case (c, b1, e1) =>
              val refId = names.indexOf(c)
              if (refId < 0) Nil
              else chunksOf(refId, math.max(0L, b1 - 1),
                math.min(maxPos, if (e1 == Long.MaxValue) maxPos else e1))
            }
            runParts(BaiIndex.memberRuns(chunks))
          } else if (regions.size == 1 &&
              names.indexOf(regions.head._1) < 0) {
            // option-named contig absent from this file's index names:
            // plan nothing, like the multi-region arm (ADVICE r15 —
            // the pred path would degrade to a full unpruned scan)
            Nil
          } else VcfFilters.region(preds, names, maxPos) match {
            case None => plain()
            case Some((refId, beg, end)) =>
              runParts(BaiIndex.memberRuns(chunksOf(refId, beg, end)))
          }
      }
    }
  }
}

class VcfReaderFactory(fields: Array[String], preds: Seq[VcfFilters.Pred],
    conf: HadoopIO.ConfBox) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SamInputPartition]
    new VcfPartitionReader(p.path, p.start, p.end, p.codec, p.uoffset,
      fields, preds, conf)
  }
}

/** Exact-start BGZF line source for an index-run head: the tabix chunk
  * points at a record's first byte, so no sync or line-drop is needed. */
private[sources] final class VcfRunLines(path: String, memberStart: Long,
    uoffset: Int, conf: org.apache.hadoop.conf.Configuration)
    extends FastqLines {
  private val file = new SeekableFile(path, conf)
  private val in = new BgzfInputStream(file, memberStart)
  locally { HadoopIO.skipFully(in, uoffset.toLong, s"$path tabix run head") }
  private val lb = new FastqLineBuf
  override def next(): (String, Long) = {
    val owner = in.memberStart
    lb.reset()
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { lb.append(b); b = in.read() }
    (lb.toLine, owner)
  }
  override def close(): Unit = { in.close(); file.close() }
}

class VcfPartitionReader(path: String, rangeStart: Long, rangeEnd: Long,
    codec: String, uoffset: Int, fields: Array[String],
    preds: Seq[VcfFilters.Pred], conf: HadoopIO.ConfBox)
    extends PartitionReader[InternalRow] {

  private val lines: FastqLines = codec match {
    case "bgzf" =>
      if (uoffset >= 0) new VcfRunLines(path, rangeStart, uoffset, conf.conf)
      else new FastqBgzfLines(path, rangeStart, conf.conf)
    case "gzip" => new FastqGzipLines(path, conf.conf)
    case _      => new FastqPlainLines(path, rangeStart, conf.conf)
  }
  private val needGt = fields.contains("genotypes")
  private var current: InternalRow = _

  // per-field decoder closures resolved ONCE at reader construction —
  // matching field NAMES per row per column is pure wasted CPU on a
  // corpus scan (ADVICE r13 nit; the other sources precompute the same
  // way). Each takes (rawLine, splitFields, parsedPos).
  private type FieldDecoder = (String, Array[String], java.lang.Long) => Any
  private def strAt(i: Int): FieldDecoder = (_, f, _) =>
    if (i < f.length) UTF8String.fromString(f(i)) else null
  private val decoders: Array[FieldDecoder] = fields.map {
    case "line"   => (line: String, _: Array[String], _: java.lang.Long) =>
      UTF8String.fromString(line)
    case "contig" => (_: String, f: Array[String], _: java.lang.Long) =>
      UTF8String.fromString(f(0))
    case "pos"    => (_: String, _: Array[String], pos: java.lang.Long) =>
      if (pos == null) null else pos.longValue()
    case "id"     => strAt(2)
    case "ref"    => strAt(3)
    case "alt"    => strAt(4)
    case "qual"   => (_: String, f: Array[String], _: java.lang.Long) =>
      if (f.length <= 5 || f(5) == ".") null
      else try java.lang.Double.valueOf(f(5).toDouble)
        catch { case _: NumberFormatException => null }
    case "filter" => strAt(6)
    case "info"   => strAt(7)
    case "format" => strAt(8)
    case "genotypes" => (_: String, f: Array[String], _: java.lang.Long) =>
      if (f.length <= 9) null
      else new GenericArrayData(
        f.drop(9).map(v => UTF8String.fromString(v): Any))
    case other => throw new IllegalArgumentException(
      s"vcf source: unknown required column '$other'")
  }

  override def next(): Boolean = {
    while (true) {
      val l = lines.next()
      if (l == null || l._2 >= rangeEnd) { current = null; return false }
      val s = l._1
      if (s.nonEmpty && s.charAt(0) != '#') {
        // a split-limited field count would silently hide a truncated
        // tail; split fully only when genotypes are required
        val f = if (needGt) s.split("\t", -1) else s.split("\t", 10)
        require(f.length >= 8,
          s"malformed VCF record at offset ${l._2} in $path: " +
            s"'${s.take(60)}' has ${f.length} of 8 required fields " +
            "(truncated file?)")
        val pos = try java.lang.Long.valueOf(f(1).toLong)
          catch { case _: NumberFormatException => null }
        // pushed-predicate contract: per-kind null handling lives in the
        // Pred itself (a pos comparison with null pos is not-true; a
        // contig-only predicate never consults pos — ADVICE r13)
        if (preds.isEmpty || VcfFilters.evalAll(preds, f(0), pos)) {
          current = decode(s, f, pos)
          return true
        }
      }
    }
    false
  }

  private def decode(line: String, f: Array[String],
      pos: java.lang.Long): InternalRow = {
    val vals = new Array[Any](decoders.length)
    var i = 0
    while (i < decoders.length) {
      vals(i) = decoders(i)(line, f, pos)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
