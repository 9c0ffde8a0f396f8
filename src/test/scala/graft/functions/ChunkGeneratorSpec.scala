package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ChunkGeneratorSpec extends SparkSpec {

  private def chunked(rows: Seq[(Long, Seq[String])], size: Int, stride: Int) = {
    import spark.implicits._
    rows.toDF("id", "t")
      .selectExpr("id", s"graft_chunks(t, $size, $stride) AS (ci, chunk)")
      .orderBy(col("id"), col("ci"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2)))
  }

  test("graft_chunks windows with overlap and keeps the partial tail") {
    val got = chunked(Seq((1L, Seq("a", "b", "c", "d", "e"))), 3, 2)
    assert(got.toSeq == Seq(
      (1L, 0L, Seq("a", "b", "c")),
      (1L, 1L, Seq("c", "d", "e")),
      (1L, 2L, Seq("e"))))
  }

  test("graft_chunks emits nothing for NULL or empty arrays") {
    val got = chunked(Seq((1L, null), (2L, Seq.empty[String]), (3L, Seq("x"))), 4, 4)
    assert(got.toSeq == Seq((3L, 0L, Seq("x"))))
  }

  test("graft_chunks preserves null elements inside a chunk") {
    val got = chunked(Seq((1L, Seq("a", null, "c"))), 2, 2)
    assert(got.toSeq == Seq((1L, 0L, Seq("a", null)), (1L, 1L, Seq("c"))))
  }

  test("graft_chunks equals the explode(sequence)+slice spelling on corpus data") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), filter(split(col("text"), " "), t => length(t) > 0).as("t"))
    val native = docs
      .selectExpr("doc_id", "graft_chunks(t, 48, 24) AS (chunk_idx, chunk)")
      .select(col("doc_id"), col("chunk_idx"), md5(array_join(col("chunk"), " ")).as("h"))
    val builtin = docs
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, CAST((n - 1) div 24 AS INT))")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        md5(array_join(expr("slice(t, ci * 24 + 1, 48)"), " ")).as("h"))
    assert(native.exceptAll(builtin).isEmpty && builtin.exceptAll(native).isEmpty)
  }

  test("graft_chunks plans as a Generate node, not a lateral join") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b"))).toDF("id", "t")
      .selectExpr("id", "graft_chunks(t, 2, 1) AS (ci, chunk)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && plan.contains("graft_chunks"),
      s"expected a Generate(graft_chunks) node, got:\n$plan")
  }

  test("graft_chunks rejects non-positive or non-literal size") {
    import spark.implicits._
    val df = Seq((1L, Seq("a"))).toDF("id", "t")
    intercept[Exception] {
      df.selectExpr("graft_chunks(t, 0, 1) AS (ci, chunk)").collect()
    }
    intercept[Exception] {
      df.selectExpr("graft_chunks(t, CAST(id AS INT), 1) AS (ci, chunk)").collect()
    }
  }
}
