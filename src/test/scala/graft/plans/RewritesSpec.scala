package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RewritesSpec extends SparkSpec {

  test("built-in zip_with/aggregate dot product rewrites to graft_dot") {
    // parquet-backed input so constant folding cannot pre-evaluate the plan
    val vecs = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val df = vecs.select(col("vec_id"), expr(
      "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      .as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"rewrite did not fire:\n$optimized")
    // values must equal the native spelling
    val native = vecs.select(col("vec_id"), expr("graft_dot(v, v)").as("d"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      native.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("rewrite leaves non-matching aggregates untouched") {
    import spark.implicits._
    // sum of squares plus 1 — different zero literal, must NOT rewrite
    val df = Seq((Array(1L, 2L), Array(3L, 4L))).toDF("a", "b")
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(1 AS BIGINT), (acc, x) -> acc + x)")
        .as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_dot"), s"rewrite over-fired:\n$optimized")
    assert(df.collect()(0).getLong(0) == 12L) // 1 + 3 + 8
  }
}
