package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every [[QueryModule]] into one registry. Each module is one
  * SURVEY.md §2 operator family; each query ships a DuckDB oracle unless its
  * semantics are not SQL-expressible (approximate sketches, LSH, streaming
  * runtime), in which case the driver falls back to a rows-only check and the
  * ScalaTest suite carries the correctness argument instead.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    operators.Relational,
    operators.Joins,
    operators.Aggregations,
    operators.Windows,
    operators.TimeSeries,
    operators.SortsSets,
    operators.ScalePatterns,
    operators.Scalars,
    operators.SqlProgrammability,
    operators.Articles,
    operators.TextOps,
    operators.CorpusOps,
    operators.Graphs,
    operators.Similarity,
    operators.Multimodal,
    sources.ArticlesV2,
    sources.CatalogOps,
    streaming.Streams
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by nation: fact-to-fact shuffle join (lineitem⋈orders) with the
    * dimensions (customer at this SF, nation) broadcast — the plan shape that
    * survives 100 TB: one shuffle on orderkey, zero shuffles for dims.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    val n = Tables.nation(spark, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        Exact.sumMoney(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2, each run on its
    * own child of the given session ([[GraftSession.withConf]] with no keys). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val flat = modules.flatMap(_.queries)
    require(flat.size == flat.map(_._1).distinct.size,
      s"duplicate query names across modules: " +
        flat.groupBy(_._1).filter(_._2.size > 1).keys.mkString(", "))
    flat.map { case (q, f) => q -> ((s: SparkSession, d: String) =>
      GraftSession.withConf(s)(f(_, d))) }.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
