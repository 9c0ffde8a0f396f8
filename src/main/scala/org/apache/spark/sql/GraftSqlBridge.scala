package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.HadoopFSUtils

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

  /** The session's SQL conf, and a Hadoop conf with its `spark.hadoop.*`
    * keys as Spark's file sources build one (`sessionState` is `private[sql]`). */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Whether Spark's file listing skips this name (`private[spark]`). */
  def hiddenPath(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
