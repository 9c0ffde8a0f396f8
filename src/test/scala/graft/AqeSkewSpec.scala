package graft

import org.apache.spark.sql.functions._

/** AQE's runtime skew-join splitting — claimed throughout the scale notes
  * as the backstop behind manual salting (q46/q105); this pins that it
  * actually fires: a deliberately hot key with thresholds lowered to
  * fixture scale must produce a SortMergeJoin marked `skew=true` in the
  * final adaptive plan, with results identical to the unsplit join.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits a skewed join partition and preserves the result") {
    import spark.implicits._
    // thresholds scaled to fixture size; broadcast off so the join
    // actually shuffles and AQE has partitions to split
    GraftSession.withConf(spark,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      // 50k rows on ONE key + a sprinkle of others vs a small dim
      val fact = spark.range(50000).select(lit(7L).as("k"), col("id").as("v"))
        .unionByName(spark.range(100).select((col("id") % 10).as("k"), col("id").as("v")))
      val dim = (0L until 10L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // collect through the SAME query execution so the adaptive plan we
      // inspect is the one that actually ran (count() would plan anew)
      val n = joined.collect().length
      assert(n == 50000 + 100, s"join result wrong: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    }
  }
}
