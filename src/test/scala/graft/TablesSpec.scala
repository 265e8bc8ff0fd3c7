package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

class TablesSpec extends SparkSpec {

  test("fanOut counts a parquet file rewritten in place with more row " +
      "groups again") {
    val dir = Files.createTempDirectory("fanout").toString
    val file = s"$dir/t.parquet"
    // own session: the fan-out target is a session conf
    val s = spark.newSession()
    s.conf.set("spark.graft.scanFanout.target", "3")
    /** Replace `file` with a one-file parquet of `rows` ids written at
      * `blockSize`-byte row groups; returns its row-group count. */
    def writeOver(rows: Long, blockSize: Long): Int = {
      val stage = s"$dir/stage_$rows"
      s.range(rows).coalesce(1).write
        .option("parquet.block.size", blockSize).parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file),
          spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }
    def fannedOut(): Boolean = {
      val df = s.read.parquet(file)
      !(Tables.fanOut(df) eq df)
    }
    assert(writeOver(100, 1L << 20) === 1)
    assert(fannedOut(), "one row group is below the target of 3")
    assert(writeOver(300000, 64L * 1024) >= 3)
    assert(!fannedOut(), "the rewritten file's row groups were not recounted")
  }
}
