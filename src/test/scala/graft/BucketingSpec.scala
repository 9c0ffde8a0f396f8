package graft

import graft.GraftSession.withConf
import org.apache.spark.sql.functions._

/** Co-located joins via bucketing — the pre-partitioning strategy for
  * repeated fact⋈fact joins at 100 TB: both tables bucketed on the join
  * key join with ZERO exchanges (SURVEY.md "Partitioning & shuffle").
  */
class BucketingSpec extends SparkSpec {

  test("join of tables bucketed on the join key plans no shuffle") {
    // disable broadcast so the join must consider distribution
    try withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      Tables.orders(spark, sf0001).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      Tables.customer(spark, sf0001).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"unexpected join strategy:\n$plan")
      // exactly ONE exchange: the groupBy — neither bucketed join side shuffles
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(nExchanges == 1, s"expected only the groupBy exchange, got $nExchanges:\n$plan")
      // and it must produce the same result as the unbucketed join
      val expected = Tables.orders(spark, sf0001)
        .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
