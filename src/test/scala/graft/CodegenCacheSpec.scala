package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache holds more than Spark's default
  * 100 classes (`GraftSession.codegenCacheEntries`): a plan run again
  * after 150 others with different generated code is not recompiled.
  */
class CodegenCacheSpec extends SparkTestBase {

  test("a plan compiled before 150 others with distinct code runs again without a compile") {
    def run(i: Int): Unit =
      Bench.forceMaterialize(spark.range(8).selectExpr(s"id * $i + $i"))
    (1 to 150).foreach(run)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (1 to 10).foreach(run)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
  }
}
