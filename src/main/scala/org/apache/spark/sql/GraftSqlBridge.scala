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
    builtStreams(spark).foreach(_.listListeners().foreach(l => c.streams.addListener(l)))
    c
  }

  /** The session's `streams`, if it has built them. The first touch of
    * `streams` builds a `StreamingQueryManager`, and with it a bus on the
    * SparkContext that is never removed; a session that never built one
    * has no stream and no streaming listener to read. */
  def builtStreams(spark: SparkSession): Option[streaming.StreamingQueryManager] =
    Option(manager.get(spark.asInstanceOf[classic.SparkSession].sessionState))
      .map(_ => spark.streams)
  private val manager = classOf[internal.SessionState].getDeclaredField("streamingQueryManager")
  manager.setAccessible(true)

  /** The session's temporary functions and session variables (Spark lists
    * neither publicly; the variables sit in a private map). */
  def tempFunctions(spark: SparkSession): Seq[String] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .listTemporaryFunctions().map(_.unquotedString)
  def variables(spark: SparkSession): Seq[String] = {
    val m = spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
      .tempVariableManager
    val f = m.getClass.getDeclaredField("variables")
    f.setAccessible(true)
    m.synchronized(f.get(m).asInstanceOf[scala.collection.Map[String, _]].keys.toSeq)
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
