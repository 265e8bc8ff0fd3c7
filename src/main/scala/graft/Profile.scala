package graft

/** Ad-hoc profiling main: time one named query N times.
  * Usage: runMain graft.Profile <queryName> [sfDir] [reps] */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local("graft-profile", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc A/B lever: PROFILE_CONF="k=v;k=v" sets session confs (e.g.
    // spark.graft.scanFanout.target=0 to measure a query without fan-out)
    sys.env.get("PROFILE_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      // noop sink, same methodology as Bench (guide §1.4): count() lets
      // Catalyst prune unevaluated projections and under-measures
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[profile] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (sys.env.contains("PROFILE_EXPLAIN"))
      fn(spark, sfDir).explain("formatted")
    if (sys.env.contains("PROFILE_SHOW"))
      fn(spark, sfDir).show(100, truncate = false)
    spark.stop()
  }
}
