package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every main (the mito CLIs, `Bench`,
  * `Verify`, `Profile`, the tools) and the test suite build their session
  * here, so they all run with the same confs. */
object Sessions {

  /** A `local[threads]` session with `threads` shuffle partitions. */
  def local(appName: String, threads: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$threads]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      // ObjectHashAggregate (collect_list/typed aggs) falls back to
      // SORT-based aggregation after 128 keys by default — a silent 2x on
      // every collect_list aggregation; per-key state here is tiny
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 20)
      // default 100-entry codegen class cache thrashes across a 50+-query
      // session: every pass re-runs janino compilation and executes cold
      // classes (static conf — must be set before session creation)
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
