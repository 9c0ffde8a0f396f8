package graft

import org.apache.spark.sql.functions._

/** Partition pruning over hive-style partitioned parquet — at 100 TB the
  * fact table is laid out by a partition column and a filtered scan must
  * read only matching directories.
  */
class PartitionPruningSpec extends SparkSpec {

  test("filter on the partition column prunes at planning time") {
    val base = new java.io.File(tempDir("graft_part"))
    val path = base.getAbsolutePath + "/orders_by_status"
    Tables.orders(spark, sf0001)
      .write.partitionBy("o_orderstatus").parquet(path)

    val scan = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderstatus"), s"no partition filter:\n$plan")

    // pruned scan must touch only the F partition's files
    val fCount = scan.count()
    val expected = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F").count()
    assert(fCount == expected)
    val read = scan.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(read.nonEmpty && read.forall(_.contains("o_orderstatus=F")),
      s"scan read non-matching partitions: ${read.toSeq}")
  }

  test("dynamic partition pruning fires for a dim-filtered fact join") {
    val base = new java.io.File(tempDir("graft_dpp"))
    val path = base.getAbsolutePath + "/orders_by_prio"
    Tables.orders(spark, sf0001)
      .write.partitionBy("o_orderpriority").parquet(path)
    val fact = spark.read.parquet(path)
    val dim = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority").as("p")).distinct()
      .filter(col("p").startsWith("1-"))
    val joined = fact.join(dim, fact("o_orderpriority") === dim("p"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    assert(joined.count() ==
      Tables.orders(spark, sf0001).filter(col("o_orderpriority").startsWith("1-")).count())
  }
}
