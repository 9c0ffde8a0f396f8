package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the one `private[sql]` constructor an extension needs:
  * building a DataFrame from a custom LogicalPlan (`Dataset.ofRows`). The
  * standard technique for out-of-tree operators — the public API offers no
  * other way to hand the planner a custom logical node.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Look up a registered V2 catalog by name (`CatalogManager` is
    * `private[sql]`). Throws `CatalogNotFoundException` for unknown names.
    */
  def catalog(spark: SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager.catalog(name)

  /** Parse SQL text to an unresolved plan (`sqlParser` is behind
    * `private[sql]` SessionState).
    */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sql)

  /** A child of `spark` (`cloneSession` is `private[sql]`): a copy of its
    * conf, temp views, functions and query-execution listeners, plus its
    * streaming listeners, which are per session and not cloned. */
  def child(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    spark.streams.listListeners().foreach(c.streams.addListener)
    c
  }
}
