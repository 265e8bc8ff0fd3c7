package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.SparkSession

import graft.mito.MitoPipeline

/** Pipeline-first benchmark: BAM bytes on disk → committed, checked
  * classified BAM, through `MitoPipeline.run` (one sample) or
  * `MitoPipeline.runCohort` (many samples, one session).
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --model DIR [--scale X]
  *   perfbench.Main --train-model DIR --work DIR
  *
  * Prints each input's SHA-256, one line per timed call, and as the last
  * line one JSON object: with `--trace 0` the end-to-end metrics, with
  * `--trace 1` the per-layer metrics. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, model: String, scale: Double)

  type Metric = (String, Double, String)

  private val Setups = 5
  private val MinWarmCalls = 3
  private val MaxWarmCalls = 40
  /** The pipeline's layers, as named in BENCHMARK.json. */
  private val Layers = Seq("bgzf", "bam_source", "features", "ld", "classify", "bam_writer")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Path.of(req("work")).toAbsolutePath
    if (kv.contains("train-model")) {
      val spark = session(work)
      try Model.train(spark, kv("train-model")) finally spark.stop()
    } else {
      val o = Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
        req("trace") == "1", work, req("model"), kv.getOrElse("scale", "1").toDouble)
      val code = try run(o) catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
      sys.exit(code)
    }
  }

  /** The session `graft.mito.Cli` builds, on every core of the machine.
    * The warehouse directory stays under the benchmark's work dir (run.py
    * points SPARK_LOCAL_DIRS there too). */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def secondsOf[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def run(o: Opts): Int = {
    val w = Workload(o.workload, o.scale)
    val dir = o.work.resolve("inputs")
    val (genS, inputs) = secondsOf(Inputs.generate(w, o.seed, dir))
    println(f"inputs ${w.name} seed ${o.seed}: ${w.samples} x ${w.pairs} read pairs, generated in $genS%.2f s")
    inputs.files.foreach(p =>
      println(s"input ${dir.relativize(p)} sha256 ${Inputs.sha256File(p)} bytes ${Files.size(p)}"))

    // set-up: session + model load, several times; the last session stays
    var spark: SparkSession = null
    var model: RandomForestClassificationModel = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      secondsOf {
        spark = session(o.work)
        model = RandomForestClassificationModel.load(o.model)
      }._1
    }
    println(f"setup_s ${setups.map(s => f"$s%.3f").mkString(" ")}")

    try {
      val t = new Target(spark, model, inputs, o.work.resolve("out"))
      var attempted = 0
      var failed = 0
      /** One closed-loop call from BAM bytes: reset before it and check its
        * output after it, both outside the timed region. */
      def timedCall(label: String): Option[Double] = {
        attempted += 1
        val r = try {
          t.reset()
          val (s, _) = secondsOf(t.call())
          val bad = t.check()
          bad.foreach(b => println(s"CHECK FAILED ($label): $b"))
          if (bad.isEmpty) Some(s) else None
        } catch {
          case NonFatal(e) =>
            println(s"CALL FAILED ($label): $e"); e.printStackTrace(); None
        }
        if (r.isEmpty) failed += 1
        r.foreach(s => println(f"call $label $s%.4f s"))
        r
      }

      val cold = timedCall("cold")
      // the call after the cold one is checked but not timed: the JIT is
      // still compiling the pipeline's hot paths during it. With --trace 1
      // it also carries the runtime listeners.
      val counters = new SparkCounters
      if (o.trace) counters.around(spark)(timedCall("warmup"))
      else timedCall("warmup")
      val warm = ArrayBuffer.empty[Double]
      var spent = 0.0
      var calls = 0
      while (calls < MaxWarmCalls && (calls < MinWarmCalls || spent < o.seconds)) {
        val (s, r) = secondsOf(timedCall(s"warm${calls + 1}"))
        r.foreach(warm += _)
        spent += s
        calls += 1
      }
      val outBytes = t.outs.map(p => Files.size(Path.of(p))).sum
      val outRecords = inputs.samples.map(_.expected.records).sum
      t.reset()
      val heapMb = usedHeapMb()

      val runS = if (warm.nonEmpty) median(warm.toSeq) else Double.NaN
      println(f"summary ${w.name}: run_n ${warm.length} failed_frac ${failed.toDouble / attempted}%.4f " +
        f"run_s $runS%.4f cold_run_s ${cold.getOrElse(Double.NaN)}%.4f")

      val metrics: Seq[Metric] =
        if (!o.trace) Seq(
          ("setup_s", median(setups), "s"),
          ("cold_run_s", cold.getOrElse(Double.NaN), "s"),
          ("run_s", runS, "s"),
          ("reads_per_s", w.reads / runS, "reads/s"),
          ("out_bytes_per_record", outBytes.toDouble / outRecords, "B"))
        else {
          val (m, ok) = traced(t, counters, runS, o)
          if (!ok) failed += 1
          Seq(("pipeline.run_n", warm.length.toDouble, "count"),
            ("pipeline.failed_frac", failed.toDouble / attempted, "ratio"),
            ("pipeline.heap_retained_mb", heapMb, "MB")) ++ m
        }
      val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
      println(json(correct, attempted, failed, metrics))
      0
    } finally spark.stop()
  }

  /** Untimed: the traced pass and the codec floors. */
  private def traced(t: Target, counters: SparkCounters, runS: Double, o: Opts)
      : (Seq[Metric], Boolean) = {
    t.reset()
    val tracer = new Tracer(s"${o.workload}-${o.seed}")
    val counts = new TracedRun(t, tracer).run().withDefaultValue(0.0)
    val bad = t.check()
    bad.foreach(b => println(s"CHECK FAILED (traced): $b"))
    val traceDir = o.work.getParent.resolve("traces")
    Files.createDirectories(traceDir)
    val spansFile = traceDir.resolve(s"${o.workload}-seed${o.seed}.spans.jsonl")
    tracer.write(spansFile)
    println(s"spans written to $spansFile")

    val byLayer = tracer.selfSeconds(_.layer).withDefaultValue(0.0)
    val byName = tracer.selfSeconds(_.name).withDefaultValue(0.0)
    def self(names: String*): Double = names.map(byName).sum
    val wall = tracer.all.filter(_.parent == -1).map(_.seconds).sum
    val covered = Layers.map(byLayer).sum
    val floors = Floors.measure(t.inputFiles, t.outs)
    val metrics = Seq(
      ("bgzf.inflate_s", byLayer("bgzf"), "s"),
      ("bgzf.in_mb", counts("bgzf.in_mb"), "MB"),
      ("bgzf.inflated_mb", counts("bgzf.inflated_mb"), "MB"),
      ("bgzf.inflate_floor_s", floors("bgzf.inflate_floor_s"), "s"),
      ("bgzf.deflate_floor_s", floors("bgzf.deflate_floor_s"), "s"),
      ("bam_source.scan_s", byLayer("bam_source"), "s"),
      ("bam_source.records", counts("bam_source.records"), "count"),
      ("bam_source.records_per_s", counts("bam_source.records") / byLayer("bam_source"), "1/s"),
      ("features.nt_s", self("numt.load", "nt"), "s"),
      ("features.mt_per_read_s", self("mt_per_read"), "s"),
      ("features.frame_s", self("frame"), "s"),
      ("features.variants", counts("features.variants"), "count"),
      ("features.rows", counts("features.rows"), "count"),
      ("features.join_ratio", counts("features.rows") / counts("features.mt_reads"), "ratio"),
      ("ld.load_s", self("ld.load"), "s"),
      ("ld.score_s", self("ld.score"), "s"),
      ("ld.pairs", counts("ld.pairs"), "count"),
      ("ld.pairs_hit", counts("ld.pairs_hit"), "count"),
      ("ld.hit_ratio", counts("ld.pairs_hit") / counts("ld.pairs"), "ratio"),
      ("classify.score_s", self("score"), "s"),
      ("classify.filter_s", self("filter"), "s"),
      ("classify.scored_rows", counts("classify.scored_rows"), "count"),
      ("classify.kept_ratio", counts("classify.kept") / counts("classify.scored_rows"), "ratio"),
      ("bam_writer.write_s", self("write"), "s"),
      ("bam_writer.records", counts("bam_writer.records"), "count"),
      ("bam_writer.bytes", counts("bam_writer.bytes"), "B")) ++
      counters.metrics ++ Seq(
      ("trace.wall_s", wall, "s"),
      ("trace.covered_ratio", covered / wall, "ratio"),
      ("trace.other_s", wall - covered, "s"),
      ("trace.overhead_s", wall - runS, "s"))
    (metrics, bad.isEmpty)
  }

  private def usedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[Metric]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else java.lang.Double.toString(v)
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }
}

/** The system under test for one workload: the session, the model, the
  * generated inputs, and the user-facing call that is timed. */
final class Target(val spark: SparkSession, val model: RandomForestClassificationModel,
    val inputs: Inputs, outDir: Path) {
  Files.createDirectories(outDir)

  val cohort: Boolean = inputs.samples.length > 1

  def out(s: Sample): String =
    outDir.resolve(Path.of(s.prefix).getFileName.toString + ".bam").toString

  def outs: Seq[String] = inputs.samples.map(out)

  def inputFiles: Seq[String] =
    inputs.samples.flatMap(s => Seq("_NT.bam", "_MT_MD.bam", "_MT.bam").map(s.prefix + _))

  /** `MitoPipeline.run` with the CLI's defaults, or `runCohort` over every
    * sample. */
  def call(): Unit =
    if (cohort)
      MitoPipeline.runCohort(spark, inputs.samples.map(s => (s.prefix, out(s))),
        inputs.ldFile, inputs.numtFile, prob = 0.5, model)
    else {
      val s = inputs.samples.head
      MitoPipeline.run(spark, MitoPipeline.Config(prefix = s.prefix, out = out(s),
        ldFile = inputs.ldFile, numtFile = inputs.numtFile), model)
    }

  /** Between calls: no previous output, no cached data, a full GC. */
  def reset(): Unit = {
    outs.foreach { o => deleteTree(Path.of(o)); deleteTree(Path.of(o + ".parts")) }
    spark.catalog.clearCache()
    System.gc()
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 10_000_000_000L
    while (sc.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    require(sc.getRDDStorageInfo.isEmpty && sc.getPersistentRDDs.isEmpty,
      "RDD blocks still cached before a timed call: " +
        sc.getRDDStorageInfo.map(_.name).mkString(", "))
  }

  /** Reads each classified BAM back through `format("bam")` and compares
    * it with the generator's kept set: record count, sum(start), sum(mapQ)
    * and the SHA-256 of the sorted read names. Covers record content only.
    * Returns one message per mismatch. */
  def check(): Seq[String] = inputs.samples.flatMap { s =>
    val rows = spark.read.format("bam").load(out(s))
      .select("readName", "start", "mapQ").collect()
    val e = s.expected
    val got = Expected(rows.length.toLong, rows.map(_.getInt(1).toLong).sum,
      rows.map(_.getInt(2).toLong).sum,
      Inputs.sha256Lines(rows.map(_.getString(0)).sorted.toSeq))
    if (got == e) None else Some(s"${out(s)}: expected $e, got $got")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteTree(c)) finally s.close()
    }
    Files.delete(p)
  }
}
