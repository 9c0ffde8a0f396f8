package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the fused signature kernels bit-identical to the md5-hex composite
  * spellings they replaced in q75/q79 (MinHash) and q76 (SimHash) — the
  * oracle replays those exact identities in DuckDB, so equivalence here is
  * the hash-match gate for the whole near-dup family.
  */
class HashExprsSpec extends SparkSpec {

  /** The exact pre-fusion q75/q79 signature pipeline over (id, shingles). */
  private def compositeMinhash(df: DataFrame): DataFrame = {
    val hashed = df
      .select(col("id"), explode(col("shingles")).as("x"))
      .select(col("id"),
        expr("CAST(conv(substring(md5(x), 1, 7), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(md5(x), 9, 7), 16, 10) AS BIGINT)").as("h2"))
    val mins = (0 until 16).map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until 16).map(i => col(s"m$i")): _*).as("ms"))
  }

  /** The exact pre-fusion q76 signature pipeline over (id, tokens). */
  private def compositeSimhash(df: DataFrame): DataFrame = {
    val tok = df.select(col("id"), explode(col("tokens")).as("tk"))
      .withColumn("h", expr("CAST(conv(substring(md5(tk), 1, 8), 16, 10) AS BIGINT)"))
    val votes = (0 until 32).map { b =>
      sum(when(expr(s"(h div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val sig = (0 until 32).foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), sig.as("sig"))
  }

  private def realShingles: DataFrame =
    graft.Tables.documents(spark, sf0001)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("id"), array_distinct(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
      )).as("shingles"))

  test("graft_minhash matches the explode/conv/MIN-aggregate spelling on the real corpus") {
    val sh = realShingles
    val fused = sh.select(col("id"), expr("graft_minhash(shingles, 16)").as("ms"))
    val old = compositeMinhash(sh)
    assert(fused.count() == old.count() && fused.count() > 0)
    assert(fused.join(old.withColumnRenamed("ms", "oms"), "id")
      .filter(col("ms") =!= col("oms")).count() == 0)
  }

  test("graft_minhash degenerate inputs: null/empty arrays null out, null elements are skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, Array[String]("a b c", "b c d")),
      (2L, Array[String]("a b c", null)), // null shingle: MIN skips its h's
      (3L, Array[String]()),              // empty: the explode dropped the doc
      (4L, null.asInstanceOf[Array[String]])
    ).toDF("id", "shingles")
    val fused = df.select(col("id"), expr("graft_minhash(shingles, 16)").as("ms"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    assert(fused(3L) == null && fused(4L) == null)
    // rows 1-2 must equal the composite (which only ever sees rows whose
    // explode produced output)
    val old = compositeMinhash(df.filter(col("id") <= 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused(1L) == old(1L) && fused(2L) == old(2L))
  }

  test("graft_simhash matches the explode/vote-aggregate spelling on the real corpus") {
    val tok = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("tokens"))
    val fused = tok.select(col("id"), expr("graft_simhash(tokens, 32)").as("sig"))
    val old = compositeSimhash(tok)
    assert(fused.count() == old.count() && fused.count() > 0)
    assert(fused.join(old.withColumnRenamed("sig", "osig"), "id")
      .filter(col("sig") =!= col("osig")).count() == 0)
  }

  test("graft_simhash degenerate inputs: null token votes -1 everywhere, null/empty arrays null out") {
    import spark.implicits._
    val df = Seq(
      (1L, Array[String]("alpha", "beta", "gamma")),
      (2L, Array[String]("alpha", null, null)), // null tokens: CASE otherwise-branch votes -1
      (3L, Array[String]("")),                  // split("") yields [""] — hashable
      (4L, Array[String]()),
      (5L, null.asInstanceOf[Array[String]])
    ).toDF("id", "tokens")
    val fused = df.select(col("id"), expr("graft_simhash(tokens, 32)").as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else Long.box(r.getLong(1))))
      .toMap
    assert(fused(4L) == null && fused(5L) == null)
    val old = compositeSimhash(df.filter(col("id") <= 3))
      .collect().map(r => r.getLong(0) -> Long.box(r.getLong(1))).toMap
    (1L to 3L).foreach(i => assert(fused(i) == old(i), s"row $i: ${fused(i)} vs ${old(i)}"))
  }

  test("fused signatures run inside whole-stage codegen (no fallback project)") {
    val sh = realShingles
    val plan = sh.select(expr("graft_minhash(shingles, 16)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_minhash"))
    assert(!plan.contains("CodegenFallback"), s"fallback in:\n$plan")
  }
}
