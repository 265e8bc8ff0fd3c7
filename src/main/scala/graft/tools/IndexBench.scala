package graft.tools

import org.apache.spark.sql.functions._

/** Measured evidence for the distributed index builders (r14): synthesize
  * a cohort-scale bgzip'd VCF, then time the sequential `Tabix.build` —
  * the split walk run once over the whole file on the calling thread —
  * against `Tabix.buildDistributed`, the same walk over many byte ranges
  * as one Spark job (and `.csi` both ways), asserting byte-identical
  * sidecars while timing. One JSON line to stdout.
  *
  *   runMain graft.tools.IndexBench [nSites] [threads]   (default 8M, 32)
  *
  * The point at 100 TB: indexing is a full-file pass — the one part of
  * the VCF surface that used to run on one driver core. The distributed
  * build's wall-clock scales with splits/executors; the sequential
  * build's with file size. */
object IndexBench {

  def main(args: Array[String]): Unit = {
    val nSites = args.headOption.map(_.toInt).getOrElse(8000000)
    val threads = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val spark = graft.Sessions.local("graft-index-bench", threads)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = s"${graft.sources.HadoopIO.scratchDir(spark)}/graft_idxbench/sites.vcf.gz"
      val nC = 4
      val sites = spark.range(nSites).select(
        concat(lit("c"), col("id") % nC).as("contig"),
        ((col("id") / nC).cast("long") * 7 + 1).as("pos"),
        lit("AT").as("ref"), lit("G").as("alt"),
        (col("id") % 7 + 1).as("ac"), (col("id") % 89 + 1).as("dp"))
      val refs = (0 until nC).map(i => s"c$i" -> (nSites / nC * 7 + 2))
      graft.sources.VcfWriter.write(sites, refs, out, numPartitions = 64)
      val conf = spark.sparkContext.hadoopConfiguration
      val fileLen = {
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }
      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      def bytes(p: String): Array[Byte] = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val in = hp.getFileSystem(conf).open(hp)
        try in.readAllBytes() finally in.close()
      }
      // split to ~2× the thread count (the 16 MB default targets
      // cluster-sized files; a benchmark file needs enough tasks to
      // exercise the parallelism it is measuring)
      val split = math.max(1L << 20, fileLen / (2L * threads))
      val (nSeq, tSeqTbi) = time(graft.sources.Tabix.build(out, conf))
      val tbiSeq = bytes(out + ".tbi")
      val (nDist, tDistTbi) = time(
        graft.sources.Tabix.buildDistributed(spark, out, split))
      require(nSeq == nDist &&
        java.util.Arrays.equals(tbiSeq, bytes(out + ".tbi")),
        "distributed .tbi diverged from sequential")
      val (_, tSeqCsi) = time(graft.sources.Tabix.buildCsi(out, conf))
      val csiSeq = bytes(out + ".csi")
      val (_, tDistCsi) = time(
        graft.sources.Tabix.buildCsiDistributed(spark, out, split))
      require(java.util.Arrays.equals(csiSeq, bytes(out + ".csi")),
        "distributed .csi diverged from sequential")
      def f(v: Double): String = f"$v%.2f"
      println(s"""{"metric":"index_build","n_sites":$nSites,""" +
        s""""vcf_bytes":$fileLen,"tbi_seq_sec":${f(tSeqTbi)},""" +
        s""""tbi_dist_sec":${f(tDistTbi)},""" +
        s""""tbi_speedup":${f(tSeqTbi / tDistTbi)},""" +
        s""""csi_seq_sec":${f(tSeqCsi)},"csi_dist_sec":${f(tDistCsi)},""" +
        s""""csi_speedup":${f(tSeqCsi / tDistCsi)},""" +
        s""""byte_identical":true}""")
    } finally spark.stop()
  }
}
