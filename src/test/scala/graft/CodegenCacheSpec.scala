package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps Janino-compiled classes in one JVM-wide LRU. Sized below a
  * workload's working set, cyclic access never hits it and every pass
  * compiles everything again; [[GraftSession.CodegenCacheEntries]] sizes it
  * above the headline set's working set. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def pass(): Unit = operators.TpchQueries.all.foreach { q =>
    q.run(spark, SparkTestBase.sf).write.format("noop").mode("overwrite").save()
  }

  test("the tuned session sizes the codegen cache to the engine constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second pass over the TPC-H bodies compiles (almost) no new class") {
    // one pass compiles ~101 distinct classes at this scale, more than
    // Spark's default cap of 100, under which the second pass re-compiled 64.
    // AQE re-plans on whichever stages finish first, so a warm pass may still
    // meet a plan variant it has not compiled yet (4 classes when seen).
    val first = compiles(pass())
    val second = compiles(pass())
    info(s"first pass compiled $first classes, second pass $second")
    assert(second <= 10, s"the second pass compiled $second classes (first pass: $first)")
  }
}
