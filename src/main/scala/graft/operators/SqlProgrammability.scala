package graft.operators

import graft.{QueryModule, Tables}
import graft.GraftSession.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL programmability surface — the way an analytics estate packages
  * reusable logic for SQL-only consumers, without shipping a jar: SQL-body
  * functions (scalar + table), session variables with `EXECUTE IMMEDIATE`
  * parameterization, and SQL scripting (`BEGIN … END` control flow).
  *
  * Reference analog: the reference hard-codes its derived-column logic in
  * Python driver code (`/root/reference/main.py:173-185` declares quartile /
  * country enrichment as stubs to be filled per run); this module is that
  * extension point done as data-platform surface — the logic lives IN the
  * SQL layer, versioned with the estate, usable from any client.
  *
  * Scale notes: SQL functions are inlined by the analyzer
  * (`ResolveSQLFunctions` rewrites the call site to the body's expression
  * tree), so they cost NOTHING at runtime — unlike JVM UDFs they stay
  * inside whole-stage codegen and remain visible to pushdown/pruning.
  * Session variables are literals by plan time (foldable), so a filter on
  * one prunes partitions exactly like a hand-written constant. Scripting
  * runs on the driver between statements; the per-statement work is still
  * fully distributed.
  */
object SqlProgrammability extends QueryModule {

  // --------------------------------------------------------------- q271

  /** q271: SQL-body functions — a scalar function computing the exact
    * discounted-price arithmetic (the `Exact` money discipline, but
    * authored once in SQL and inlined everywhere) and a TABLE function
    * generating the size-band dimension, joined as a real dimension table.
    * Both are resolved by `ResolveSQLFunctions` and inlined: the executed
    * plan is identical to the hand-written q01-style expression — zero
    * function-call overhead, broadcast range join against the generated
    * bands.
    */
  private def q271(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    Tables.part(s, d).createOrReplaceTempView("part_v")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(ep DOUBLE, disc DOUBLE)
        |RETURNS DECIMAL(28, 6)
        |RETURN CAST(ep AS DECIMAL(18,2)) * (1 - CAST(disc AS DECIMAL(9,4)))""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_size_bands(n INT, width INT)
        |RETURNS TABLE(band INT, lo INT, hi INT)
        |RETURN SELECT b AS band, b * width + 1 AS lo, (b + 1) * width AS hi
        |       FROM (SELECT explode(sequence(0, n - 1)) AS b)""".stripMargin)
    s.sql(
      """SELECT b.band, b.lo, b.hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(graft_disc_price(l.l_extendedprice, l.l_discount)) AS DOUBLE) AS revenue
        |FROM lineitem_v l
        |JOIN part_v p ON l.l_partkey = p.p_partkey
        |JOIN graft_size_bands(10, 5) b ON p.p_size BETWEEN b.lo AND b.hi
        |GROUP BY b.band, b.lo, b.hi
        |ORDER BY b.band""".stripMargin)
  }

  private val q271Sql =
    """WITH bands AS (
      |  SELECT CAST(b AS INT) AS band, CAST(b * 5 + 1 AS INT) AS lo,
      |         CAST((b + 1) * 5 AS INT) AS hi
      |  FROM generate_series(0, 9) t(b))
      |SELECT b.band, b.lo, b.hi,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l.l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN bands b ON p.p_size BETWEEN b.lo AND b.hi
      |GROUP BY b.band, b.lo, b.hi
      |ORDER BY b.band""".stripMargin

  // --------------------------------------------------------------- q272

  /** q272: session variables parameterizing a pipeline — the cutoff date
    * is COMPUTED from the data (`SET VAR … = (scalar subquery)`), then a
    * query template held in a string variable runs via
    * `EXECUTE IMMEDIATE … USING` with the variables bound positionally.
    * This is the re-runnable parameterized report a scheduler executes:
    * the template is data, the parameters are session state, nothing is
    * string-interpolated.
    *
    * Scale: the variable is a foldable literal by plan time, so the
    * `o_orderdate >= cutoff` predicate pushes into the scan exactly like a
    * hand-written constant (no re-plan per parameter value, no dynamic
    * filter machinery needed).
    */
  private def q272(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql("DECLARE OR REPLACE VARIABLE graft_cutoff TIMESTAMP")
    s.sql(
      """SET VAR graft_cutoff =
        |  (SELECT MAX(o_orderdate) - INTERVAL 3 MONTH FROM orders_v)""".stripMargin)
    s.sql("DECLARE OR REPLACE VARIABLE graft_status STRING DEFAULT 'F'")
    s.sql("DECLARE OR REPLACE VARIABLE graft_report STRING")
    s.sql(
      """SET VAR graft_report =
        |  'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |   FROM orders_v WHERE o_orderdate >= ? AND o_orderstatus <> ?
        |   GROUP BY o_orderpriority ORDER BY o_orderpriority'""".stripMargin)
    s.sql("EXECUTE IMMEDIATE graft_report USING graft_cutoff, graft_status")
  }

  private val q272Sql =
    """WITH cutoff AS (
      |  SELECT MAX(o_orderdate) - INTERVAL 3 MONTH AS c FROM orders)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders, cutoff WHERE o_orderdate >= cutoff.c AND o_orderstatus <> 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- q273

  /** q273: SQL scripting — `BEGIN … END` control flow finds the adaptive
    * histogram width for the quantity column (start at 1, double until the
    * bucket count fits 16), then the final statement materializes the
    * histogram at that width. The loop is driver-side control flow over
    * two scalar aggregates; the histogram itself is one distributed
    * group-by. The DuckDB oracle replays the doubling loop as a recursive
    * CTE, so a drifted loop bound or off-by-one in the ceil-division shows
    * up as a hash mismatch, not just a different row count.
    */
  private def q273(s: SparkSession, d: String): DataFrame = {
    withConf(s, "spark.sql.scripting.enabled" -> "true") { s =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """BEGIN
          |  DECLARE lo BIGINT;
          |  DECLARE hi BIGINT;
          |  DECLARE w BIGINT DEFAULT 1;
          |  SET lo = (SELECT CAST(MIN(l_quantity) AS BIGINT) FROM lineitem_v);
          |  SET hi = (SELECT CAST(MAX(l_quantity) AS BIGINT) FROM lineitem_v);
          |  WHILE ((hi - lo + 1) + w - 1) DIV w > 16 DO
          |    SET w = w * 2;
          |  END WHILE;
          |  SELECT CAST((CAST(l_quantity AS BIGINT) - lo) DIV w AS BIGINT) AS bucket,
          |         CAST(lo + ((CAST(l_quantity AS BIGINT) - lo) DIV w) * w AS BIGINT) AS bucket_lo,
          |         CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(w AS BIGINT) AS width
          |  FROM lineitem_v
          |  GROUP BY bucket, bucket_lo
          |  ORDER BY bucket;
          |END""".stripMargin)
    }
  }

  private val q273Sql =
    """WITH RECURSIVE bounds AS (
      |  SELECT CAST(MIN(l_quantity) AS BIGINT) AS lo,
      |         CAST(MAX(l_quantity) AS BIGINT) AS hi FROM lineitem),
      |wloop(w) AS (
      |  SELECT CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT w * 2 FROM wloop, bounds
      |  WHERE ((hi - lo + 1) + w - 1) // w > 16),
      |fin AS (SELECT MAX(w) AS w FROM wloop)
      |SELECT CAST((CAST(l_quantity AS BIGINT) - lo) // w AS BIGINT) AS bucket,
      |       CAST(lo + ((CAST(l_quantity AS BIGINT) - lo) // w) * w AS BIGINT) AS bucket_lo,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(w AS BIGINT) AS width
      |FROM lineitem, bounds, fin
      |GROUP BY bucket, bucket_lo, width
      |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q362

  /** q362: PARAMETERIZED SQL — named parameter markers (`:name`) bound at
    * call time through `spark.sql(text, args)` (the injection-proof
    * front door every SQL client should use instead of string splicing;
    * the programmatic twin of q272's session variables): the same query
    * TEXT serves any (lo, hi, source) binding, and because markers bind
    * as LITERALS at parse time they stay visible to Catalyst exactly
    * like hand-written constants — the spec pins that the bound
    * predicate reaches the parquet scan as a PushedFilter, which string
    * templating gets only by re-planning per value and injection risk.
    *
    * Scale: zero runtime cost — by analysis time the plan is identical
    * to the constant-folded original, so pushdown, pruning, and codegen
    * all see literals.
    */
  private def q362(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("g362_docs")
    s.sql(
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM g362_docs
        |WHERE n_chars BETWEEN :lo AND :hi AND source <> :excluded
        |GROUP BY lang ORDER BY lang""".stripMargin,
      Map("lo" -> 120, "hi" -> 480, "excluded" -> "src7"))
  }

  private val q362Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE n_chars BETWEEN 120 AND 480 AND source <> 'src7'
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q365

  /** q365: COLUMN-LEVEL LINEAGE — the governance relation every impact
    * analysis and PII-propagation audit starts from: each output column
    * of a registered pipeline resolved to the exact (source table, source
    * column) pairs that feed it, computed by [[graft.plans.ColumnLineage]]
    * walking the ANALYZED Catalyst plan (attributes are minted only at
    * Project/Aggregate/Window/Generate/Union — everything else passes
    * them through by ExprId, so one bottom-up fold resolves the whole
    * tree). Two subject plans exercise the traversal: a four-table
    * join+aggregate (fan-in through joins, multi-column measures) and an
    * explode+window chain (generator lineage, window partition/order keys
    * counted as sources). The oracle pins the complete expected relation
    * — a lineage walk that dropped the generator hop, missed a window
    * key, or mis-attributed a join column hash-mismatches.
    *
    * Scale: O(plan) driver-side metadata work — the audit never touches
    * data, so it costs the same over 100 TB as over the test SF. The
    * recorded relation is what a catalog would persist per registered
    * pipeline version.
    */
  private def q365(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val revenue = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(col("l_orderkey")).as("n_items"),
        max(col("o_orderdate")).as("last_order"))
    val tokens = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"),
        col("n_chars"))
      .withColumn("rk", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("tok"))))
      .select(col("doc_id").as("d"), col("tok"),
        (col("n_chars") + lit(1)).as("len1"), col("rk"))
    graft.plans.ColumnLineage
      .table(Seq("revenue" -> revenue, "tokens" -> tokens))
      .toDF("plan", "out_col", "src_table", "src_col")
      .orderBy(col("plan"), col("out_col"), col("src_table"), col("src_col"))
  }

  private val q365Sql =
    """SELECT * FROM (VALUES
      |  ('revenue', 'last_order', 'orders',   'o_orderdate'),
      |  ('revenue', 'n_items',    'lineitem', 'l_orderkey'),
      |  ('revenue', 'n_name',     'nation',   'n_name'),
      |  ('revenue', 'revenue',    'lineitem', 'l_discount'),
      |  ('revenue', 'revenue',    'lineitem', 'l_extendedprice'),
      |  ('tokens',  'd',          'documents', 'doc_id'),
      |  ('tokens',  'len1',       'documents', 'n_chars'),
      |  ('tokens',  'rk',         'documents', 'doc_id'),
      |  ('tokens',  'rk',         'documents', 'text'),
      |  ('tokens',  'tok',        'documents', 'text'))
      |  AS t(plan, out_col, src_table, src_col)
      |ORDER BY plan, out_col, src_table, src_col""".stripMargin

  // --------------------------------------------------------------- q394

  /** q394: UNPIVOT + GROUP BY ALL + ORDER BY ALL — the modern relational
    * SQL surface (SQL:2016 / Spark 3.4+) a metrics pipeline leans on:
    * a wide per-source aggregate reshaped into the tall (source, metric,
    * value) form every observability store ingests, authored entirely in
    * SQL. UNPIVOT is the INVERSE of q29's pivot — together they close
    * the reshape pair. GROUP BY ALL infers the grouping key from the
    * non-aggregate select list; ORDER BY ALL totals the ordering — both
    * exercised here from the SQL front door, not the DataFrame API.
    *
    * Scale: UNPIVOT is a per-row expand of an ALREADY-AGGREGATED
    * relation (|sources| rows → 3·|sources|) — the widening happens
    * after the one combinable shuffle, so the reshape is free at any
    * corpus size.
    */
  private def q394(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH wide AS (
         |  SELECT source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(MAX(n_chars) AS BIGINT) AS max_chars
         |  FROM parquet.`$d/documents.parquet`
         |  GROUP BY ALL)
         |SELECT source, metric, value
         |FROM wide UNPIVOT (value FOR metric IN (n_docs, sum_chars, max_chars))
         |ORDER BY ALL""".stripMargin)

  private val q394Sql =
    """WITH wide AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |    CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |  FROM documents GROUP BY source)
      |SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
      |UNION ALL SELECT source, 'sum_chars', sum_chars FROM wide
      |UNION ALL SELECT source, 'max_chars', max_chars FROM wide
      |ORDER BY 1, 2, 3""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q394_sql_unpivot" -> q394,
    "q365_column_lineage" -> q365,
    "q362_parameterized_sql" -> q362,
    "q271_sql_udf" -> q271,
    "q272_session_variables" -> q272,
    "q273_sql_scripting" -> q273
  )

  override def oracles: Map[String, String] = Map(
    "q394_sql_unpivot" -> q394Sql,
    "q365_column_lineage" -> q365Sql,
    "q362_parameterized_sql" -> q362Sql,
    "q271_sql_udf" -> q271Sql,
    "q272_session_variables" -> q272Sql,
    "q273_sql_scripting" -> q273Sql
  )
}
