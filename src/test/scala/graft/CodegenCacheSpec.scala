package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark caches compiled generated classes JVM-wide, keyed by their
  * source text. A session that re-runs a query set must find every class
  * it generated on the previous pass still cached: with the cache smaller
  * than the set, LRU eviction recompiles the whole set on every pass.
  */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSession._

  private val curate = Seq(
    "d3_dedup_simhash", "d4_ngram_jaccard", "d10_containment", "d23_lsh_plan",
    "v1_knn_brute", "v23_knn_mutuality", "p1_curate")

  /** Generated classes compiled while curate's builders run once each. */
  private def curatePassCompiles(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    curate.foreach(n => SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second curate pass compiles no generated class") {
    val first = curatePassCompiles()
    val second = curatePassCompiles()
    assert(second == 0, s"second pass recompiled $second classes (first pass compiled $first)")
  }
}
