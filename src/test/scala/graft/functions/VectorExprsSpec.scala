package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExprsSpec extends SparkSpec {

  test("graft_dot computes exact integer dot products (codegen path)") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),   // 4+10+18 = 32
      (Array(-2L, 7L), Array(3L, -1L)),          // -6-7 = -13
      (Array.empty[Long], Array.empty[Long])     // 0
    ).toDF("a", "b")
    val out = df.select(expr("graft_dot(a, b)").as("d")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(32L, -13L, 0L))
  }

  test("graft_dot matches the zip_with/aggregate spelling on real data") {
    val vecs = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val both = vecs.select(
      expr("graft_dot(v, v)").as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
        .as("builtin"))
    assert(both.filter(col("native") =!= col("builtin")).count() == 0)
  }

  test("graft_dot is null-safe") {
    import spark.implicits._
    val df = Seq((Some(Array(1L)), None: Option[Array[Long]])).toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).collect()(0).isNullAt(0))
  }

  test("graft_dot replicates builtin null semantics: unequal lengths and null elements") {
    import spark.implicits._
    // unequal lengths: zip_with null-pads the shorter side → null sum
    // null element anywhere → null product → null sum
    val df = Seq(
      (Array[java.lang.Long](1L, 2L, 3L), Array[java.lang.Long](4L, 5L)),
      (Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](4L, 5L, 6L)),
      (Array[java.lang.Long](1L, 2L), Array[java.lang.Long](4L, 5L))
    ).toDF("a", "b")
    val both = df.select(
      expr("graft_dot(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
        .as("builtin")).collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null mismatch: native=${r.get(0)} builtin=${r.get(1)}")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
    // hand-computed expectations (the rewrite may compile BOTH columns to
    // the native kernel, so the cross-check alone would be tautological)
    assert(both(0).isNullAt(0) && both(1).isNullAt(0))
    assert(!both(2).isNullAt(0) && both(2).getLong(0) == 14L)
  }

  /** The exact HOF spelling [[graft.operators.Similarity]]'s maxSimScore
    * used before the fused kernel replaced it — the equivalence target. */
  private def hofMaxSim(a: String, b: String) =
    expr(s"aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, m) -> " +
      s"acc + array_max(transform(sequence(0, 7), n -> " +
      s"graft_dot(slice($a, m * 8 + 1, 8), slice($b, n * 8 + 1, 8)))))")

  test("graft_maxsim matches the HOF spelling on real 64-wide vectors") {
    val vecs = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val pairs = vecs.select(col("v").as("qv"))
      .crossJoin(vecs.limit(7).select(col("v").as("dv")))
    val both = pairs.select(
      expr("graft_maxsim(qv, dv)").as("native"),
      hofMaxSim("qv", "dv").as("hof"))
    assert(both.count() > 0)
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_maxsim replicates the HOF spelling's degenerate-input semantics") {
    import spark.implicits._
    def arr(n: Int, seed: Int): Array[java.lang.Long] =
      Array.tabulate(n)(i => java.lang.Long.valueOf(((i * 37 + seed * 101) % 19 - 9).toLong))
    val withNull = arr(64, 3); withNull(13) = null
    val df = Seq(
      (arr(64, 1), arr(64, 2)),     // happy path
      (arr(64, 1), arr(32, 2)),     // short doc side: n >= 4 slices empty
      (arr(60, 1), arr(64, 2)),     // ragged tail slice on the query side
      (arr(5, 1), arr(5, 2)),       // both shorter than one sub-vector
      (arr(0, 0), arr(0, 0)),       // both empty: every dot is 0
      (arr(64, 1), withNull),       // null element poisons its sub-dots
      (arr(64, 1), arr(63, 2)),     // off-by-one: last slice lengths differ
      (withNull, withNull)          // nulls on both sides
    ).toDF("a", "b")
    val both = df.select(
      expr("graft_maxsim(a, b)").as("native"),
      hofMaxSim("a", "b").as("hof")).collect()
    both.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"row $i null mismatch: native=${r.get(0)} hof=${r.get(1)}")
      if (!r.isNullAt(0))
        assert(r.getLong(0) == r.getLong(1),
          s"row $i value mismatch: native=${r.getLong(0)} hof=${r.getLong(1)}")
    }
    // hand-derived spot checks so the cross-check is not tautological:
    // empty arrays: every slice is empty, every dot 0, max 0, sum 0
    assert(!both(4).isNullAt(0) && both(4).getLong(0) == 0L)
    // null inputs propagate
    val nullIn = Seq((Some(arr(64, 1)), None: Option[Array[java.lang.Long]]))
      .toDF("a", "b").select(expr("graft_maxsim(a, b)")).collect()(0)
    assert(nullIn.isNullAt(0))
  }

  test("spark.sql.extensions=graft.GraftExtensions injects function + rule at session build") {
    // assert via a CHILD session, which re-derives its state from the
    // context's extensions rather than from anything a query installed
    val child = spark.newSession()
    val viaSql = child.sql(
      "SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head.getLong(0)
    assert(viaSql == 32L, "graft_dot not resolvable from SQL in an extensions-built session")
    // parquet-backed input so constant folding cannot pre-evaluate the plan
    val vecs = graft.Tables.embeddings(child, sf0001).selectExpr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v")
    val plan = vecs.selectExpr(
      "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x) AS d")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_dot"),
      s"DotProductRewrite not installed via extensions:\n$plan")
  }
}
