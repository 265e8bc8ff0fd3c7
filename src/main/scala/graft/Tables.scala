package graft

import org.apache.spark.sql.{functions, types, DataFrame, SparkSession}

/** Loaders for the driver's deterministic parquet corpus (TESTDATA.md).
  *
  * Every table is a plain parquet scan — Catalyst sees the file relation
  * directly, so filter pushdown / column pruning / partition-size planning
  * all apply. At 100 TB these would be partitioned tables; the API shape
  * (dir + name) is the same.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scan fan-out (r16, guide §2.5 "input skew: one huge unsplittable
    * file → repartition immediately after the read"): every sf corpus
    * parquet is a SINGLE row group, so Spark's split planning cannot
    * parallelize the scan — the map-side kernel (synthesis, tokenize,
    * regex, variant parse, window-hash) of a query reading one runs in
    * ONE task on the 32-thread bench box. Queries whose scan→first-
    * exchange segment is kernel-heavy wrap their read in this helper;
    * a BLANKET fan-out in the loaders was measured a net loss (the extra
    * exchange + stage taxes the ~200 rows whose first operator is already
    * a shuffle more than it helps them — 234-row A/B committed in
    * OPTIMIZATION_r16.md), so the call sites opt in.
    *
    * The repartition is KEYED on a deterministic hash of the row
    * (pmod(xxhash64(cols), 64·target)) rather than round-robin: keyless
    * repartition pays a single-threaded local sort of the whole input
    * first (spark.sql.execution.sortBeforeRepartition, needed for retry
    * determinism) — the hash key is retry-deterministic for free and
    * 64× the partition count spreads buckets evenly (guide §2.5).
    *
    * Scale-adaptive: at production scale the same tables are many files /
    * many row groups, the guard sees `rowGroups >= target`, and the
    * repartition is never inserted — no extra exchange at 100 TB.
    * `spark.graft.scanFanout.target` overrides the target (0 disables;
    * unset → the session's default parallelism).
    *
    * r17 guard (ADVICE r16): the gate counts PARQUET ROW GROUPS across the
    * scan's input files — the true upper bound on parquet scan
    * parallelism — not `df.rdd.getNumPartitions`. Byte-range split
    * planning is bytes-based, so a single large single-row-group file
    * (exactly the pathology this helper targets) plans MANY splits while
    * every row lands in one task, silently skipping the fan-out where it
    * is most needed; and the `.rdd` probe forced a full physical planning
    * pass per wrapped read. Footers are read once per file per JVM
    * (cached); non-parquet/unreadable files count as one unit each.
    *
    * r17 keys (ADVICE r16): the repartition hashes a caller-supplied
    * minimal high-cardinality key subset (the table's primary key) instead
    * of every column, so column pruning pushes below the exchange — q61
    * no longer shuffles `o_comment` to emit md5(o_orderkey). No keys →
    * all columns (the r16 behavior).
    *
    * Row-order effects: none observable — every declared query's output
    * is row-set-identical (the oracle compare is row-sorted, all
    * collect_list sites are sort_array-canonicalized, limits are
    * tie-broken). */
  def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    val target = s.conf.getOption("spark.graft.scanFanout.target")
      .map(_.toInt).getOrElse(s.sparkContext.defaultParallelism)
    if (target <= 0) df
    else if (scanUnits(df, target) >= target) df
    else {
      val keyCols =
        if (keys.nonEmpty) keys else df.columns.toSeq.map(functions.col)
      df.repartition(target,
        functions.pmod(functions.xxhash64(keyCols: _*),
          functions.lit(64L * target)))
    }
  }

  /** Row groups per parquet file, footer read once per JVM per file
    * version: keyed on (path, length, mtime), so a file rewritten in
    * place is counted again. */
  private val rowGroupCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), java.lang.Long]()

  /** Upper bound on the scan parallelism of `df`'s file inputs, counted
    * up to `target`: parquet row groups across its leaf files
    * (`Dataset.inputFiles` — a FileIndex listing, no physical planning),
    * reading footers only until the running count reaches the target.
    * Fallback when the plan has no file inputs: the planned RDD
    * partition count (the r16 probe). */
  private def scanUnits(df: DataFrame, target: Long): Long = {
    val files = df.inputFiles
    if (files.isEmpty) df.rdd.getNumPartitions.toLong
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      var total = 0L
      val it = files.iterator
      while (total < target && it.hasNext) total += rowGroups(it.next(), conf)
      total
    }
  }

  /** A file's row-group count; 1 when its footer cannot be read (not
    * cached, so a later call retries). */
  private def rowGroups(f: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val path = new org.apache.hadoop.fs.Path(f)
      val st = path.getFileSystem(conf).getFileStatus(path)
      val key = (f, st.getLen, st.getModificationTime)
      val cached = rowGroupCache.get(key)
      if (cached != null) cached.longValue
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        val n = try r.getRowGroups.size.toLong finally r.close()
        rowGroupCache.put(key, n)
        n
      }
    } catch { case scala.util.control.NonFatal(_) => 1L }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects by
    * default. Read it as a nanos long (legacy conf) and convert to a µs
    * TIMESTAMP_NTZ — same wall-clock the oracle sees (events µs-aligned). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == types.LongType)
      raw.withColumn("ts",
        functions.timestamp_micros(functions.expr("ts div 1000"))
          .cast(types.TimestampNTZType))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
