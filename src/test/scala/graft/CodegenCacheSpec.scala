package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** Pins `GraftSession`'s codegen cache size: a session that plans more
  * distinct generated classes than Spark's default cache holds (100) must
  * still run them a second time without compiling any. The cache size is
  * read once, when `CodeGenerator` first initializes, so this also fails
  * if that happens before the session is built and the default is frozen.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 150 projections whose generated code differs (the literals are
    * inlined), each collected once; returns the classes compiled meanwhile.
    */
  private def round(): Long = {
    val before = compiles()
    (1 to 150).foreach { i =>
      spark.range(4).select((col("id") * i + i * 7).as("v")).collect()
    }
    compiles() - before
  }

  test("a second round of 150 distinct generated classes compiles none") {
    val first = round()
    assert(first > 100, s"the first round must overflow the default cache; compiled $first")
    assert(round() === 0L)
  }
}
