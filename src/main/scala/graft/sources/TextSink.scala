package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col

/** Distributed single-file sinks: one part-file commit behind every
  * writer that lands a frame as ONE file (text, SAM, VCF, FASTQ, BED,
  * FASTA and [[BamWriter]]'s BAM).
  *
  * [[commit]] lets every task encode its partition's rows and stream the
  * bytes straight to an attempt-suffixed part file
  * (`<out>.parts/part-<pid>-a<attempt>`) through the Hadoop FileSystem:
  * bounded memory, and retry- and speculation-safe, because a task
  * re-attempt writes a fresh part name and only the successful attempt's
  * path reaches the driver. The driver then writes the header, copies the
  * part BYTES in partition order, and deletes `.parts`. Row order in the
  * output is exactly the frame's partition-major order, so a
  * range-partitioned, sorted-within-partitions frame lands as one
  * globally sorted file. No `coalesce(1)` collapses upstream compute to
  * one task, and only metadata-sized results reach the driver.
  *
  * In the BGZF form every part is a run of self-contained BGZF members
  * (concatenation-safe: the bgzip framing SAM/VCF/BAM tooling expects,
  * intra-file-split friendly), the header is its own member run, and the
  * file ends with the spec EOF marker. A [[PartIndexer]] then sees every
  * row at its part-local virtual offsets, and the commit returns each
  * part's accumulation with the [[Relocation]] that maps those offsets
  * into the committed file: the one index-on-write path of the `.bai`,
  * `.csi` and `.tbi` sidecars.
  */
object TextSink {

  /** Task-side index hook: `add` sees every written row with its
    * PART-LOCAL write-side virtual offsets (member byte offset << 16 |
    * intra-member offset, [[BgzfOutputStream.virtualPos]]); `result` is
    * the task's serializable accumulation (KB-sized: bins and window
    * minima, never row bytes). */
  private[sources] trait PartIndexer[T] {
    def add(row: Row, vBeg: Long, vEnd: Long): Unit
    def result: T
  }

  /** Where one part's part-local virtual offsets land in the committed
    * file. [[pos]] shifts an offset by the part's byte start (BGZF
    * members concatenate verbatim, so only the member offset moves).
    * [[end]] does the same except at the part's tail offset: the read
    * side reports a record ending exactly at its part's last payload byte
    * as ending at the NEXT member's start, which is the next part's first
    * member or, past the last part, end of file (the reader skips the
    * empty EOF member), so the tail rewrites to that global offset. */
  private[sources] final case class Relocation(shift: Long, tail: Long,
      next: Long) {
    def pos(v: Long): Long = v + shift
    def end(v: Long): Long = if (v == tail) next else v + shift
  }

  /** Write `lines` (single string column `line`) as one text file at
    * `out`, prefixed by `header` lines; an `out` ending `.gz`/`.bgz` is
    * BGZF. Returns the line count. */
  def write(header: Seq[String], lines: DataFrame, out: String): Long =
    writeLines(header, lines, out)._1

  /** [[write]] with an optional per-task [[PartIndexer]] over the lines
    * (BGZF form only). Returns the line count and, per non-empty part in
    * file order, its accumulation and relocation. */
  private[sources] def writeLines[T](header: Seq[String], lines: DataFrame,
      out: String, indexer: () => PartIndexer[T] = null)
      : (Long, Seq[(T, Relocation)]) = {
    val gz = out.endsWith(".gz") || out.endsWith(".bgz")
    require(indexer == null || gz,
      s"TextSink: index-on-write needs the BGZF form — '$out' is plain " +
        "text (virtual offsets only exist inside bgzip members)")
    // per-line suffix, not mkString's unconditional one: an empty header
    // must contribute zero bytes, not a lone newline
    val headerBytes = header.map(_ + "\n").mkString.getBytes("UTF-8")
    commit(lines.select(col("line")), out, headerBytes, gz,
      r => (r.getString(0) + "\n").getBytes("UTF-8"), indexer)
  }

  /** The single-file commit: `encode` renders each row of `rows` in a
    * task, `header` is written by the driver ahead of the parts (in BGZF
    * form as its own member run; zero bytes write none), and `indexer`
    * (may be null, BGZF only) accumulates per part. Returns the row count
    * and, when indexing, each non-empty part's result with its
    * [[Relocation]], in file order. */
  private[sources] def commit[T](rows: DataFrame, out: String,
      header: Array[Byte], bgzf: Boolean, encode: Row => Array[Byte],
      indexer: () => PartIndexer[T] = null)
      : (Long, Seq[(T, Relocation)]) = {
    val confBox = HadoopIO.capture()
    val partsDir = out + ".parts"
    val parts = rows.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val path = f"$partsDir/part-$pid%05d-a${tc.attemptNumber()}"
          val os = new java.io.BufferedOutputStream(
            HadoopIO.create(path, confBox.conf), 1 << 16)
          val ix = if (indexer == null) null else indexer()
          var n = 0L
          var blob = Array.emptyByteArray
          try {
            val bz = if (bgzf) new BgzfOutputStream(os) else null
            val sink = if (bgzf) bz else os
            def vpos(): Long = {
              val (m, u) = bz.virtualPos
              (m << 16) | u
            }
            while (it.hasNext) {
              val r = it.next()
              if (ix == null) sink.write(encode(r))
              else {
                val v0 = vpos()
                sink.write(encode(r))
                ix.add(r, v0, vpos())
              }
              n += 1
            }
            if (ix != null) {
              val b = new java.io.ByteArrayOutputStream()
              val oo = new java.io.ObjectOutputStream(b)
              oo.writeObject((ix.result, vpos()))
              oo.close()
              blob = b.toByteArray
            }
            if (bz != null) bz.flushBlock() // the EOF marker is file-level
          } finally os.close()
          Iterator((pid, path, n, blob))
        }
      }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING,
        Encoders.scalaLong, Encoders.BINARY))
      .collect() // task METADATA only (+ KB-sized index accumulations)
      .sortBy(_._1)

    val conf = rows.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(out).getFileSystem(conf)
    val os = fs.create(new Path(out), true)
    val starts = new Array[Long](parts.length + 1) // part byte offsets
    var fileLen = 0L
    try {
      if (bgzf) {
        val bz = new BgzfOutputStream(os)
        bz.write(header)
        bz.flushBlock()
      } else os.write(header)
      starts(0) = os.getPos
      parts.zipWithIndex.foreach { case ((_, p, _, _), i) =>
        val in = fs.open(new Path(p))
        try starts(i + 1) = starts(i) + in.transferTo(os) finally in.close()
      }
      if (bgzf) os.write(BgzfOutputStream.EofMarker)
      fileLen = os.getPos
    } finally {
      os.close()
      fs.delete(new Path(partsDir), true)
    }
    val located =
      if (indexer == null) Nil
      else parts.indices.map { i =>
        val (result, tail) = new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(parts(i)._4)).readObject()
          .asInstanceOf[(T, Long)]
        val next = if (i == parts.length - 1) fileLen else starts(i + 1)
        (result, Relocation(starts(i) << 16, tail, next << 16))
      }
    (parts.map(_._3).sum, located)
  }
}
