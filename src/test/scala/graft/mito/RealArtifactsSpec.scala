package graft.mito

import graft.SparkSpec

/** Loader validation against the reference's real shipped data artifacts
  * (read-only at /root/reference/src/universal). Cancelled when the
  * reference checkout is absent. */
class RealArtifactsSpec extends SparkSpec {

  private val ldPath = "/root/reference/src/universal/mitomap.ld"
  private val numtPath = "/root/reference/src/universal/NUMTs_hg38.txt"
  private def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("mitomap.ld loads headerless: all 88,237 rows, first row included") {
    assume(exists(ldPath))
    val ld = Ld.load(spark, ldPath)
    val m = Ld.toMap(ld)
    // the reference ate the first row (5C, 6T) as a header (defect B2);
    // headerless loading must retain it: R = -3.80737e-05 → quantizes to
    // -3 after ×1e5 truncation
    assert(Ld.lookup(m, "5C", "6T") === -3)
    // empirically no row of the real table quantizes to zero and no pair
    // repeats: every line survives into the map
    assert(m.size === 88237, s"size=${m.size}")
    // symmetric probe works on real keys
    val ((v1, v2), r) = m.head
    assert(Ld.lookup(m, v2, v1) === r)
  }

  test("NUMTs_hg38.txt loads all 23 intervals with plausible bounds") {
    assume(exists(numtPath))
    val numts = Numt.load(spark, numtPath)
    assert(numts.size === 23)
    assert(numts.forall(iv => iv.end > iv.start && iv.score > 0))
    assert(numts.map(_.chromosome).distinct.nonEmpty)
  }

  test("real-scale LD: the index path equals the map reference on a synthetic read set") {
    assume(exists(ldPath))
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ld = Ld.load(spark, ldPath)
    val m = Ld.toMap(ld)
    val idx = Ld.index(Ld.read(ldPath))
    // synthesize sorted variant lists from real LD keys so pairs actually score
    val lists = m.keys.take(50).toSeq.map { case (a, b) => Seq(a, b).sorted }
    val reads = lists.zipWithIndex.map { case (vs, i) => (s"read$i", vs) }
      .toDF("Read", "variants")
    val viaIndex = reads.select(col("Read"), Ld.score(col("variants"), () => idx))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val expected = lists.zipWithIndex.map { case (vs, i) =>
      s"read$i" -> Ld.scorePairs(m, vs)
    }.toMap
    assert(viaIndex === expected)
  }
}
