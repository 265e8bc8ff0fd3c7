package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, Inflater}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.mito.{Classify, Features, Ld, Numt, Sam}
import graft.sources.{BamWriter, BgzfInputStream, HadoopIO, SeekableFile}

/** One timed call: name, layer, start/end (ns), parent span id, run id. */
final case class Span(id: Int, parent: Int, run: String, name: String,
    layer: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
  def json: String =
    s"""{"id":$id,"parent":$parent,"run":"$run","name":"$name",""" +
      s""""layer":"$layer","start_ns":$start,"end_ns":$end}"""
}

/** In-memory span recorder; spans nest by call order (one thread). */
final class Tracer(run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(-1)

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = spans.length
    spans += null
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      open = open.tail
      spans(id) = Span(id, parent, run, name, layer, t0, System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time summed by `key` (layer or name): each span's duration
    * minus its children's. */
  def selfSeconds(key: Span => String): Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(key).map { case (k, ss) =>
      k -> ss.map(s => s.seconds - child.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: Path): Unit =
    Files.write(path, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** What one sample's traced stages leave for the counts. */
final case class Staged(perRead: DataFrame, feat: DataFrame, keys: DataFrame,
    out: String, written: Long)

/** Layer-by-layer pass over one workload's inputs, in `MitoPipeline.run`'s
  * order. Each stage's output is materialized (persisted and counted)
  * before the next stage starts, so a stage's span holds its own work only.
  * Counts are taken after the pass from the materialized frames. */
final class TracedRun(t: Target, tracer: Tracer) {
  import t.{inputs, model, spark}

  private val persisted = ArrayBuffer.empty[DataFrame]
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v

  private def mat(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    (p, p.count())
  }

  /** Runs the pass; returns the per-layer counts (self times come from the
    * tracer). */
  def run(): Map[String, Double] = {
    val (ldDim, staged) = tracer.span("pipeline", "trace") {
      val numts = tracer.span("numt.load", "features")(
        Numt.load(spark, inputs.numtFile))
      val ldDim = tracer.span("ld.load", "ld") {
        val (ld, _) = mat(Ld.load(spark, inputs.ldFile))
        if (t.cohort) Right(spark.sparkContext.broadcast(Ld.toMap(ld))) else Left(ld)
      }
      (ldDim, inputs.samples.zipWithIndex.map { case (s, k) =>
        tracer.span(s"sample.$k", "sample")(stages(s, numts, ldDim))
      })
    }
    staged.foreach(count)
    persisted.foreach(_.unpersist(blocking = true))
    ldDim.foreach(_.destroy())
    Features.releaseCaches()
    m.toMap
  }

  private def stages(s: Sample, numts: Seq[Numt.Interval],
      ld: Either[DataFrame, org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]]])
      : Staged = {
    tracer.span("bgzf.inflate", "bgzf") {
      Seq("_NT.bam", "_MT_MD.bam", "_MT.bam").foreach { x =>
        val (in, out) = inflateWithProgram(s.prefix + x)
        add("bgzf.in_mb", in / 1e6); add("bgzf.inflated_mb", out / 1e6)
      }
    }
    def scan(x: String): DataFrame = tracer.span(s"scan$x", "bam_source") {
      val (df, n) = mat(Sam.readAuto(spark, s.prefix + x))
      add("bam_source.records", n.toDouble)
      df
    }
    val ntAl = scan("_NT")
    val mtMd = scan("_MT_MD")
    val mtAl = scan("_MT")
    val nt = tracer.span("nt", "features")(mat(Features.ntFeatures(ntAl, numts))._1)
    val (perRead, _) = tracer.span("mt_per_read", "features")(mat(Features.mtPerRead(mtMd)))
    // mtPerRead over the same materialized input is the plan the LD step
    // persists itself, so the cache manager serves it and this span holds
    // the LD scoring alone
    val mt = tracer.span("ld.score", "ld")(mat(ld match {
      case Left(dim) => Features.mtFeaturesJoin(mtMd, dim)
      case Right(bc) => Features.mtFeaturesBroadcast(mtMd, bc)
    })._1)
    val (feat, _) = tracer.span("frame", "features")(mat(
      Features.normalizeMapQ(Features.featureFrame(mt, nt, label = 0.5))))
    val (keys, _) = tracer.span("score", "classify")(
      mat(Classify.mtReadKeys(Classify.score(model, feat), 0.5)))
    val (filtered, _) = tracer.span("filter", "classify")(
      mat(Classify.filterAlignments(mtAl, keys)))
    val out = t.out(s)
    val written = tracer.span("write", "bam_writer") {
      val (header, refs) = BamWriter.readHeader(s.prefix + "_MT.bam")
      BamWriter.write(filtered, header, refs, out)
    }
    Staged(perRead, feat, keys, out, written)
  }

  /** Counts at each stage boundary, from the materialized frames. */
  private def count(st: Staged): Unit = {
    val mtReads = st.perRead.count().toDouble
    val rows = st.feat.count().toDouble
    add("features.rows", rows)
    add("features.mt_reads", mtReads)
    add("features.variants",
      st.perRead.agg(sum(size(col("variants")))).head().getLong(0).toDouble)
    // the distinct pair-multisets LD scoring probes, and how many of them
    // the LD table holds (Ld's combinations(2) semantics)
    val pairs = st.perRead
      .select(col("variants"), array_distinct(col("variants")).as("d"))
      .select(explode(concat(
        flatten(transform(col("d"), (x, i) =>
          transform(slice(col("d"), i + lit(2), size(col("d"))), y =>
            struct(least(x, y).as("v1"), greatest(x, y).as("v2"))))),
        transform(filter(col("d"), x => size(filter(col("variants"), e => e === x)) >= 2),
          x => struct(x.as("v1"), x.as("v2"))))).as("p"))
      .select(col("p.v1").as("v1"), col("p.v2").as("v2"))
    val ldCanon = Ld.load(spark, inputs.ldFile).select(
      least(col("Variant1"), col("Variant2")).as("v1"),
      greatest(col("Variant1"), col("Variant2")).as("v2")).distinct()
    add("ld.pairs", pairs.count().toDouble)
    add("ld.pairs_hit", pairs.join(ldCanon, Seq("v1", "v2")).count().toDouble)
    add("classify.scored_rows", rows)
    add("classify.kept", st.keys.count().toDouble)
    add("bam_writer.records", st.written.toDouble)
    add("bam_writer.bytes", Files.size(Path.of(st.out)).toDouble)
  }

  private def inflateWithProgram(path: String): (Long, Long) = {
    val f = new SeekableFile(path, HadoopIO.driverConf())
    val in = new BgzfInputStream(f, 0L)
    val buf = new Array[Byte](1 << 16)
    var total = 0L
    try {
      var n = in.read(buf, 0, buf.length)
      while (n > 0) { total += n; n = in.read(buf, 0, buf.length) }
    } finally { in.close(); f.close() }
    (Files.size(Path.of(path)), total)
  }
}

/** JDK zlib on the same bytes: the floor of the codec layers. */
object Floors {

  /** Raw deflate payloads of every BGZF member of a file. */
  def members(path: String): Seq[(Array[Byte], Int)] = {
    val b = Files.readAllBytes(Path.of(path))
    val out = ArrayBuffer.empty[(Array[Byte], Int)]
    var p = 0
    while (p + 18 <= b.length) {
      val xlen = (b(p + 10) & 0xff) | ((b(p + 11) & 0xff) << 8)
      val bsize = (b(p + 16) & 0xff) | ((b(p + 17) & 0xff) << 8)
      val total = bsize + 1
      val isize = java.nio.ByteBuffer.wrap(b, p + total - 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      out += ((java.util.Arrays.copyOfRange(b, p + 12 + xlen, p + total - 8), isize))
      p += total
    }
    out.toSeq
  }

  /** Seconds to inflate the members, and their inflated payload. */
  def inflate(ms: Seq[(Array[Byte], Int)]): (Double, Array[Byte]) = {
    val inf = new Inflater(true)
    val out = new java.io.ByteArrayOutputStream
    val t0 = System.nanoTime()
    ms.foreach { case (c, isize) =>
      val buf = new Array[Byte](isize)
      inf.reset(); inf.setInput(c)
      var o = 0
      while (o < isize) o += inf.inflate(buf, o, isize - o)
      out.write(buf)
    }
    val s = (System.nanoTime() - t0) / 1e9
    inf.end()
    (s, out.toByteArray)
  }

  /** Seconds to deflate `payload` in the writer's 60 KiB members at the
    * writer's level. */
  def deflate(payload: Array[Byte]): Double = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    val cbuf = new Array[Byte](70000)
    val t0 = System.nanoTime()
    var off = 0
    while (off < payload.length) {
      val n = math.min(60 * 1024, payload.length - off)
      d.reset(); d.setInput(payload, off, n); d.finish()
      while (!d.finished()) d.deflate(cbuf, 0, cbuf.length)
      off += n
    }
    val s = (System.nanoTime() - t0) / 1e9
    d.end()
    s
  }

  /** Median of three inflate timings over the inputs, and of three
    * deflate timings over the written outputs' payload. */
  def measure(inputs: Seq[String], outputs: Seq[String]): Map[String, Double] = {
    import Main.median
    val in = inputs.flatMap(members)
    val payload = outputs.map(p => inflate(members(p))._2)
      .foldLeft(Array.emptyByteArray)(_ ++ _)
    Map(
      "bgzf.inflate_floor_s" -> median((1 to 3).map(_ => inflate(in)._1)),
      "bgzf.deflate_floor_s" -> median((1 to 3).map(_ => deflate(payload))))
  }
}

/** Runtime counters for one pipeline call: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for planning phases. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var runMs, gcMs, shuffleWrite, spill, planningMs = 0L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val tm = e.taskMetrics
    if (tm != null) {
      runMs += tm.executorRunTime
      gcMs += tm.jvmGCTime
      shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
      spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def metrics: Seq[Main.Metric] = Seq(
    ("spark.jobs", jobs.toDouble, "count"), ("spark.stages", stages.toDouble, "count"),
    ("spark.tasks", tasks.toDouble, "count"), ("spark.planning_s", planningMs / 1e3, "s"),
    ("spark.task_run_s", runMs / 1e3, "s"), ("spark.gc_s", gcMs / 1e3, "s"),
    ("spark.shuffle_write_mb", shuffleWrite / 1e6, "MB"), ("spark.spill_mb", spill / 1e6, "MB"))

  /** Registers both listeners around `body` and drains the bus after. */
  def around(spark: SparkSession)(body: => Unit): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.sparkContext.addSparkListener(this)
    classic.listenerManager.register(this)
    try body
    finally {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      classic.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
  }
}
