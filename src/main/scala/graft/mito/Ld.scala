package graft.mito

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.HadoopIO

/** Linkage-disequilibrium scoring.
  *
  * The LD table is a headerless 3-column TSV (Variant1, Variant2, R):
  * reference `src/universal/mitomap.ld`. The reference read it with
  * header=true and silently ate the first row (defect B2, `LD.scala:41-44`);
  * [[read]] keeps every line. R is quantized `(R*100000).toInt` and zero
  * entries dropped (`LD.scala:26,47-49`).
  *
  * The table is a dimension (the reference's has 88,237 rows, under 2 MB),
  * so it is read on the driver with no Spark job, built into one
  * canonical-pair [[Index]] and broadcast once per run, as the reference
  * loads it into a driver map and probes it per read (`LD.scala:40-51`,
  * `BamReader.scala:198-203`). [[score]] is the one scoring path: a read's
  * variant list summed with `combinations(2)` semantics
  * (`BamReader.scala:147-153`). Each DISTINCT pair-multiset counts once: a
  * variant reported by both mates collapses, and a self-pair {v,v} appears
  * (once) iff v occurs at least twice.
  *
  * Duplicate and reversed rows follow the reference's map: within one
  * orientation the last row wins, and (b, a) is probed only when (a, b) is
  * absent. Variant lists arrive sorted, so every probe is (lo, hi) and the
  * index keeps, per canonical pair, the (lo, hi) row when the table has
  * one and the (hi, lo) row otherwise. [[scorePairs]] over [[toMap]] is
  * the map-based reference the specs compare the index against.
  */
object Ld {

  /** Dim-load counter: the cohort gate (x80) asserts an N-sample run
    * loads the LD dim exactly once, not N times. */
  val loadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The LD reader: headerless TSV → ((Variant1, Variant2), R_q) in file
    * order, zero R_q dropped. As with Spark's permissive CSV reader, extra
    * fields are ignored and a row with no parsable R is dropped. */
  def read(path: String): Vector[((String, String), Int)] = {
    loadCount.incrementAndGet()
    HadoopIO.readLines(path, HadoopIO.driverConf()).flatMap { line =>
      val f = line.split("\t", -1)
      val rq =
        if (f.length < 3) 0
        else try (f(2).toDouble * 100000).toInt
        catch { case _: NumberFormatException => 0 }
      if (rq == 0) None else Some((f(0), f(1)) -> rq)
    }
  }

  /** [[read]] as a local DataFrame (Variant1, Variant2, R_q). */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(read(path).map { case ((a, b), r) => (a, b, r) })
      .toDF("Variant1", "Variant2", "R_q")

  /** Driver map of a [[load]] frame; a repeated (a, b) keeps its last row. */
  def toMap(ld: DataFrame): Map[(String, String), Int] =
    ld.collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap

  /** Canonical-pair index over LD rows given in file order (or a map). */
  def index(rows: Iterable[((String, String), Int)]): Index = {
    val t = new java.util.HashMap[String, Integer]()
    // reversed rows first, so a row in canonical orientation overwrites
    rows.foreach { case ((a, b), r) => if (a.compareTo(b) > 0) t.put(key(b, a), r) }
    rows.foreach { case ((a, b), r) => if (a.compareTo(b) <= 0) t.put(key(a, b), r) }
    new Index(t)
  }

  private def key(lo: String, hi: String): String = lo + "\t" + hi

  /** R_q per unordered variant pair. Serialized as a flat (key, R_q)
    * sequence; the hash table is rebuilt on deserialization. */
  final class Index private[Ld] (
      @transient private var table: java.util.HashMap[String, Integer])
      extends Serializable {

    /** R_q of the pair {a, b}; 0 when the table has no row for it. */
    def lookup(a: String, b: String): Int = {
      val v = table.get(if (a.compareTo(b) <= 0) key(a, b) else key(b, a))
      if (v == null) 0 else v.intValue
    }

    /** Σ over the distinct pair-multisets of `vs` (see the object doc). */
    def score(vs: Seq[String]): Int =
      if (vs == null) 0
      else {
        val d = vs.distinct.toArray
        var s = 0
        var i = 0
        while (i < d.length) {
          var j = i + 1
          while (j < d.length) { s += lookup(d(i), d(j)); j += 1 }
          i += 1
        }
        // a value occurring twice or more adds its self-pair once
        if (d.length != vs.length) vs.diff(d).distinct.foreach(v => s += lookup(v, v))
        s
      }

    private def writeObject(out: ObjectOutputStream): Unit = {
      out.writeInt(table.size)
      table.forEach((k, v) => { out.writeUTF(k); out.writeInt(v) })
    }

    private def readObject(in: ObjectInputStream): Unit = {
      val n = in.readInt()
      table = new java.util.HashMap[String, Integer](n * 4 / 3 + 1)
      (0 until n).foreach(_ => table.put(in.readUTF(), in.readInt()))
    }
  }

  /** LD score of a variant-list column. `ld` runs inside tasks: pass
    * `() => bc.value` to probe a broadcast index, or a constant to ship a
    * small index in the task closure. */
  def score(variants: Column, ld: () => Index): Column =
    udf { vs: Seq[String] => ld().score(vs) }.apply(variants)

  /** Symmetric map probe (reference `LD.scala:59-67`). */
  def lookup(m: Map[(String, String), Int], a: String, b: String): Int =
    m.getOrElse((a, b), m.getOrElse((b, a), 0))

  /** The reference's per-read sum over a driver map: the specs' oracle for
    * [[Index.score]]. */
  def scorePairs(m: Map[(String, String), Int], vs: Seq[String]): Int = {
    val d = vs.distinct
    var s = 0
    var i = 0
    while (i < d.length) {
      var j = i + 1
      while (j < d.length) { s += lookup(m, d(i), d(j)); j += 1 }
      i += 1
    }
    if (d.length != vs.length) { // some value occurs ≥2 → self-pairs {v,v}
      val seen = new scala.collection.mutable.HashSet[String]
      val dup = new scala.collection.mutable.HashSet[String]
      vs.foreach(v => if (!seen.add(v)) dup.add(v))
      dup.foreach(v => s += lookup(m, v, v))
    }
    s
  }
}
