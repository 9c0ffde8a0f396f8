package graft.operators

import graft.{Exact, QueryModule, Tables}
import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scans, projections, filters, predicates — SURVEY.md §2.1/§2.2.
  *
  * The reference's only "relational" ops are projection/rename with constant
  * columns (`/root/reference/main.py:94-107`) and null-tolerant extraction;
  * the general WHERE surface is the [S] rows of §2.2. All queries here are
  * single-table, shuffle-free except for the final aggregation where one
  * exists: at 100 TB they are embarrassingly parallel scans whose filters and
  * projections push into the parquet reader (PushedFilters / ReadSchema).
  */
object Relational extends QueryModule {

  /** q01: TPC-H Q1-shaped pricing summary. Exercises scan + filter +
    * group-agg with exact decimal money math. One shuffle on the 6-value
    * group key; partial aggregation makes the shuffle O(groups), not O(rows).
    */
  private def q01(s: SparkSession, d: String): DataFrame = {
    import Exact._
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(money(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        sum(
          (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
            .cast(DecimalType(24, 6)) * (lit(1) + rate(col("l_tax"))).cast(Exact.Rate)
        ).cast(DecimalType(30, 6)).cast(DoubleType).as("sum_charge"),
        avgMoney(col("l_quantity")).as("avg_qty"),
        avgMoney(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Exact.sqlSumMoney("l_quantity")} AS sum_qty,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS sum_disc_price,
       |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4))) AS DECIMAL(24,6)) * CAST(1 + CAST(l_tax AS DECIMAL(9,4)) AS DECIMAL(9,4))) AS DECIMAL(30,6)) AS DOUBLE) AS sum_charge,
       |  ${Exact.sqlAvgMoney("l_quantity")} AS avg_qty,
       |  ${Exact.sqlAvgMoney("l_extendedprice")} AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: filter + narrow projection. The point at scale: both predicates and
    * the 3-column ReadSchema reach the parquet scan — a 100 TB table is read
    * as 3 columns of the row groups that survive min/max pruning.
    */
  private def q02(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_size") >= 15 && col("p_size") <= 25 && col("p_type") === "MEDIUM")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))

  private val q02Sql =
    """SELECT p_partkey, p_brand, p_size FROM part
      |WHERE p_size BETWEEN 15 AND 25 AND p_type = 'MEDIUM'
      |ORDER BY p_partkey""".stripMargin

  /** q03: projection with constant-column injection, rename, string concat —
    * the reference's P1/P3 shape (`main.py:94-107`, constant at `main.py:96`).
    */
  private def q03(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey").as("custkey"),
        upper(col("c_name")).as("name_uc"),
        concat_ws("#", col("c_mktsegment"), col("c_custkey").cast(StringType)).as("tag"),
        lit("TPCH").as("indexation"),
        Exact.money(col("c_acctbal")).cast(DoubleType).as("acctbal")
      )
      .filter(col("acctbal") > 0)
      .orderBy(col("custkey"))

  private val q03Sql =
    """SELECT c_custkey AS custkey, UPPER(c_name) AS name_uc,
      |  c_mktsegment || '#' || CAST(c_custkey AS VARCHAR) AS tag,
      |  'TPCH' AS indexation,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
      |FROM customer
      |WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) > 0
      |ORDER BY custkey""".stripMargin

  /** q04: the general predicate surface — IN, LIKE, BETWEEN, disjunction,
    * negation (§2.2 P7). All sargable; pushed to the scan.
    */
  private def q04(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(
        col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").between(1000.0, 200000.0) &&
          (col("o_orderpriority").like("1-%") || col("o_orderpriority").like("2-%")) &&
          !col("o_orderpriority").isNull
      )
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  private val q04Sql =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderstatus IN ('O','F')
       |  AND o_totalprice BETWEEN 1000.0 AND 200000.0
       |  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
       |  AND o_orderpriority IS NOT NULL
       |GROUP BY o_orderstatus, o_orderpriority
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** q05: multi-selector coalesce + nullif — the reference's P4/P5 semantics
    * (`mainn.py:73-82`): first non-empty candidate wins, '' treated as
    * missing. Exercised over real columns by blanking some values first.
    */
  private def q05(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(
        col("c_custkey").as("custkey"),
        // simulate the scraper's empty-string sentinel, then coalesce it away
        coalesce(
          nullif(when(col("c_custkey") % 3 === 0, lit("")).otherwise(col("c_name")), lit("")),
          nullif(col("c_mktsegment"), lit("")),
          lit("(missing)")
        ).as("display_name")
      )
      .orderBy(col("custkey"))

  private val q05Sql =
    """SELECT c_custkey AS custkey,
      |  COALESCE(
      |    NULLIF(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_name END, ''),
      |    NULLIF(c_mktsegment, ''),
      |    '(missing)') AS display_name
      |FROM customer
      |ORDER BY custkey""".stripMargin

  /** q06: TPC-H Q6-shaped forecasting-revenue filter-sum — every predicate
    * sargable and pushed, the aggregate a single exact-decimal sum: the
    * minimal full-scan shape whose 100 TB cost is pure I/O bandwidth.
    */
  private def q06(s: SparkSession, d: String): DataFrame = {
    import Exact._
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-01-01").cast(TimestampType) &&
          money(col("l_discount")).between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(
        sum(money(col("l_extendedprice")) * rate(col("l_discount")))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val q06Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** q07: TPC-H Q5-shaped star join — local revenue by nation: lineitem ⋈
    * orders (both fact-sized, shuffle on the order key) ⋈ customer ⋈
    * supplier (the co-nationality condition rides the supplier equi-join)
    * ⋈ nation ⋈ region (tiny dims, broadcast; the region filter prunes
    * before the join). Exact decimal revenue. The canonical "does the
    * optimizer order a 6-way join sanely" probe: at 100 TB only the two
    * fact tables ever shuffle, and only once each.
    */
  private def q07(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).filter(
      col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(money(col("l_extendedprice")) *
          (lit(1).cast(Rate) - rate(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  private val q07Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** q110: unpivot / melt — the wide→long reshape (the inverse of q28's
    * pivot, completing the reshape pair). Both measure columns are lifted
    * to a common DOUBLE before melting because an unpivoted value column
    * has exactly one type. Scale shape: narrow per-row fan-out (one input
    * row → one output row per measure), no shuffle at all until the
    * ordering the oracle compare needs — at 100 TB this is a map-only
    * stage.
    */
  private def q110(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        col("p_size").cast(DoubleType).as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(
        ids = Array(col("p_partkey")),
        values = Array(col("size"), col("retailprice")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy(col("p_partkey"), col("metric"))

  private val q110Sql =
    """SELECT p_partkey, metric, value FROM (
      |  UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
      |           p_retailprice AS retailprice FROM part)
      |  ON size, retailprice INTO NAME metric VALUE value
      |) ORDER BY p_partkey, metric""".stripMargin

  /** q155: one-pass table profile — the ANALYZE-style column statistics
    * (null count, exact distinct, min/max) a cost-based optimizer or data
    * catalog collects, for four mixed-type lineitem columns in ONE
    * aggregate over one scan (16 partial-aggregated metrics), reshaped to
    * a row per column via `stack`. min/max canonicalize to strings
    * (DECIMAL(18,2) render for numerics, DATE for the timestamp) so one
    * schema carries every column type.
    *
    * Scale: a single partial-agg shuffle of one 16-metric row per
    * partition; the exact distinct counts are the only per-value state
    * (swap in HLL — q24 — when ndv-sized state is too much; the oracle
    * needs the exact spelling).
    */
  private def q155(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").isNull.cast(LongType)).as("null_q"),
        countDistinct(col("l_quantity")).as("ndv_q"),
        min(col("l_quantity").cast(DecimalType(18, 2))).cast(StringType).as("min_q"),
        max(col("l_quantity").cast(DecimalType(18, 2))).cast(StringType).as("max_q"),
        sum(col("l_extendedprice").isNull.cast(LongType)).as("null_p"),
        countDistinct(col("l_extendedprice")).as("ndv_p"),
        min(col("l_extendedprice").cast(DecimalType(18, 2))).cast(StringType).as("min_p"),
        max(col("l_extendedprice").cast(DecimalType(18, 2))).cast(StringType).as("max_p"),
        sum(col("l_shipdate").isNull.cast(LongType)).as("null_d"),
        countDistinct(col("l_shipdate")).as("ndv_d"),
        min(to_date(col("l_shipdate"))).cast(StringType).as("min_d"),
        max(to_date(col("l_shipdate"))).cast(StringType).as("max_d"),
        sum(col("l_returnflag").isNull.cast(LongType)).as("null_f"),
        countDistinct(col("l_returnflag")).as("ndv_f"),
        min(col("l_returnflag")).as("min_f"),
        max(col("l_returnflag")).as("max_f"))
      .selectExpr("n_rows",
        """stack(4,
          |  'l_quantity', null_q, ndv_q, min_q, max_q,
          |  'l_extendedprice', null_p, ndv_p, min_p, max_p,
          |  'l_shipdate', null_d, ndv_d, min_d, max_d,
          |  'l_returnflag', null_f, ndv_f, min_f, max_f
          |) AS (column_name, n_nulls, n_distinct, min_repr, max_repr)""".stripMargin)
      .orderBy(col("column_name"))

  private val q155Sql =
    """WITH base AS (SELECT COUNT(*) AS n_rows FROM lineitem),
      |p AS (
      |  SELECT 'l_quantity' AS column_name,
      |    COUNT(*) - COUNT(l_quantity) AS n_nulls,
      |    COUNT(DISTINCT l_quantity) AS n_distinct,
      |    CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS min_repr,
      |    CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS max_repr
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice',
      |    COUNT(*) - COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
      |    CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR),
      |    CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_shipdate',
      |    COUNT(*) - COUNT(l_shipdate), COUNT(DISTINCT l_shipdate),
      |    CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR),
      |    CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag',
      |    COUNT(*) - COUNT(l_returnflag), COUNT(DISTINCT l_returnflag),
      |    MIN(l_returnflag), MAX(l_returnflag)
      |  FROM lineitem)
      |SELECT base.n_rows, p.column_name, p.n_nulls, p.n_distinct,
      |  p.min_repr, p.max_repr
      |FROM base, p ORDER BY p.column_name""".stripMargin

  /** q165: the SQL front door — the whole query authored as `spark.sql`
    * over a registered temp view, CALLING THE NATIVE `graft_dot` FROM SQL
    * (the function-registry injection `GraftExtensions` exists for): a
    * cluster user who never touches the Scala API gets the codegen'd
    * kernel by name. Brute-force top-5 most-similar vector pairs among
    * the first 20 vectors, exact integer dots.
    */
  private def q165(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).createOrReplaceTempView("embeddings_v")
    s.sql(
      """WITH q AS (
        |  SELECT vec_id,
        |    transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings_v WHERE vec_id < 20)
        |SELECT a.vec_id AS ia, b.vec_id AS ib, graft_dot(a.v, b.v) AS dot
        |FROM q a JOIN q b ON a.vec_id < b.vec_id
        |ORDER BY dot DESC, ia, ib LIMIT 5""".stripMargin)
  }

  private val q165Sql =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings WHERE vec_id < 20)
      |SELECT a.vec_id AS ia, b.vec_id AS ib,
      |  CAST(list_sum(list_transform(range(1, len(a.v)+1),
      |    i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
      |FROM q a JOIN q b ON a.vec_id < b.vec_id
      |ORDER BY dot DESC, ia, ib LIMIT 5""".stripMargin

  /** q188: national market share (the TPC-H Q8 shape) — within orders
    * from AMERICA-region customers in 1995–96, the yearly revenue share
    * supplied by one nation: a SEVEN-relation snowflake (lineitem ⋈
    * orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier ⋈ nation again — the
    * second classic decision-support join tree next to q07's Q5 star),
    * with a conditional-share aggregate on top. Revenue stays exact
    * decimal through both sums (q01's spelling); the share is one double
    * division of two exact sums.
    *
    * Scale: the lineitem⋈orders fact-fact join shuffles once on
    * orderkey; every dimension (customer at this SF, both nations,
    * region, supplier) broadcasts; the region/year filters prune
    * BEFORE the fact join via the dimension broadcast.
    */
  private def q188(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
      (money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .as("rev"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("o_year"))
      .filter(col("o_year").isin(1995, 1996))
    val custAm = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custAm), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_3", col("rev")).otherwise(lit(0)))
          .cast(DoubleType) / sum(col("rev")).cast(DoubleType)).as("mkt_share"),
        sum(col("rev")).cast(DoubleType).as("total_revenue"))
      .orderBy(col("o_year"))
  }

  private val q188Sql =
    """WITH base AS (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(9,4))) AS rev,
      |    ns.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  JOIN region ON nc.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  WHERE r_name = 'AMERICA'
      |    AND year(CAST(o_orderdate AS DATE)) IN (1995, 1996))
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END)
      |       AS DOUBLE) / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(rev) AS DOUBLE) AS total_revenue
      |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q289

  /** q289: K-ANONYMITY AUDIT — the re-identification-risk report a
    * governance pass runs before releasing a table (Sweeney's k, k = 5):
    * rows whose quasi-identifier tuple (nation, segment, account-balance
    * bucket) is shared by fewer than k customers are at risk, and the
    * audit walks a 3-level GENERALIZATION lattice (balance bucketed by
    * 100 → by 1000 → suppressed) reporting groups / rows-at-risk /
    * min/max group size per level — the evidence for choosing the
    * coarsest release that meets the k bar. Bucketing is IEEE double
    * `floor(x / step)`, bit-identical across engines, so the whole
    * lattice is hash-checked.
    *
    * Scale: each level is one partial-agg shuffle keyed by its QI tuple
    * (group count, never rows, crosses the wire) and the report is 3
    * rows however large the table; levels share the projected scan. The
    * same shape extends to l-diversity by swapping the count for a
    * distinct-count of the sensitive column.
    */
  private def q289(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
    def level(lvl: Long, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
      base.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(lit(0L))).as("rows_at_risk"),
          min(col("n")).as("min_group"), max(col("n")).as("max_group"))
        .select(lit(lvl).as("level"), col("n_groups"), col("rows_at_risk"),
          col("min_group"), col("max_group"))
    val qi = Seq(col("c_nationkey"), col("c_mktsegment"))
    level(0, qi :+ floor(col("c_acctbal") / 100).as("b"))
      .unionByName(level(1, qi :+ floor(col("c_acctbal") / 1000).as("b")))
      .unionByName(level(2, qi))
      .orderBy(col("level"))
  }

  private val q289Sql = {
    def lvl(n: Int, grp: String) =
      s"""a$n AS (
         |  SELECT CAST($n AS BIGINT) AS level,
         |    CAST(COUNT(*) AS BIGINT) AS n_groups,
         |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
         |    CAST(MIN(n) AS BIGINT) AS min_group,
         |    CAST(MAX(n) AS BIGINT) AS max_group
         |  FROM (SELECT COUNT(*) AS n FROM customer GROUP BY $grp) t$n)"""
        .stripMargin
    s"""WITH ${lvl(0, "c_nationkey, c_mktsegment, FLOOR(c_acctbal / 100)")},
       |${lvl(1, "c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000)")},
       |${lvl(2, "c_nationkey, c_mktsegment")}
       |SELECT * FROM a0 UNION ALL SELECT * FROM a1 UNION ALL SELECT * FROM a2
       |ORDER BY level""".stripMargin
  }

  // --------------------------------------------------------------- q290

  /** q290: PSEUDONYMIZED RELEASE — the tokenization pass a governed
    * estate runs before handing data to a downstream team: the natural
    * key is replaced by a deterministic keyed-hash token (md5 over a
    * salted spelling — same key → same token, so REFERENTIAL INTEGRITY
    * SURVIVES the release), the free-text name is masked (digits → `*`),
    * and the released fact and dim still join on the token alone. The
    * rollup joins customer→orders entirely through tokens; the oracle
    * replays the tokenization, so a token collision, a non-deterministic
    * salt, or a masking miss all hash-mismatch. `min(cust_token)` rides
    * along to pin the actual token bytes, not just their join behavior.
    *
    * Scale: tokenization is map-side hashing (no lookup table to
    * distribute — the token IS the function), the join shuffles exactly
    * as the raw key did, and the release never materializes a
    * token↔key mapping anywhere an attacker could read. The k-anonymity
    * audit (q289) gates WHAT may release; this is HOW it releases.
    */
  private def q290(s: SparkSession, d: String): DataFrame = {
    val tok = (c: org.apache.spark.sql.Column) =>
      md5(Digest.salted("tok-", c))
    val cust = Tables.customer(s, d)
      .select(tok(col("c_custkey")).as("cust_token"),
        regexp_replace(col("c_name"), "[0-9]", "*").as("masked_name"),
        col("c_mktsegment"))
    val ord = Tables.orders(s, d)
      .select(tok(col("o_custkey")).as("cust_token"), col("o_totalprice"))
    cust.join(ord, "cust_token")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("cust_token")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("total_price"),
        min(col("cust_token")).as("min_token"),
        max(col("masked_name")).as("sample_masked"))
      .orderBy(col("c_mktsegment"))
  }

  private val q290Sql =
    s"""SELECT c_mktsegment,
       |  CAST(COUNT(DISTINCT ct) AS BIGINT) AS n_customers,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total_price,
       |  MIN(ct) AS min_token,
       |  MAX(mn) AS sample_masked
       |FROM (SELECT md5('tok-' || c_custkey) AS ct,
       |        regexp_replace(c_name, '[0-9]', '*', 'g') AS mn, c_mktsegment
       |      FROM customer) c
       |JOIN (SELECT md5('tok-' || o_custkey) AS ot, o_totalprice
       |      FROM orders) o ON c.ct = o.ot
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q297

  /** q297: NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    * every SQL engine must implement exactly: when the subquery's column
    * contains a NULL, `x NOT IN (...)` is never TRUE (x <> NULL is
    * UNKNOWN, and the conjunction can't be satisfied) so the query
    * returns ZERO rows, while the `NOT EXISTS` spelling of the "same"
    * intent ignores the NULLs and returns the real anti-join. Both
    * spellings run against a subquery that nulls out every 100th
    * customer key; the two-row summary (spelling → count) hash-matches
    * DuckDB, pinning that the engine implements the standard, not the
    * intuition.
    *
    * Scale: the planner turns NOT IN into a NULL-aware anti join — a
    * broadcast of the whole subquery when small, a much heavier plan
    * than the plain anti join NOT EXISTS gets; the correctness-vs-cost
    * asymmetry is WHY pipelines should write NOT EXISTS, and this query
    * is the executable documentation.
    */
  private def q297(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_q297")
    Tables.customer(s, d).createOrReplaceTempView("customer_q297")
    s.sql(
      """WITH nullable_keys AS (
        |  SELECT CASE WHEN c_custkey % 100 = 0 THEN CAST(NULL AS BIGINT)
        |              ELSE c_custkey END AS k
        |  FROM customer_q297),
        |via_not_in AS (
        |  SELECT COUNT(*) AS n FROM orders_q297
        |  WHERE o_custkey NOT IN (SELECT k FROM nullable_keys)),
        |via_not_exists AS (
        |  SELECT COUNT(*) AS n FROM orders_q297 o
        |  WHERE NOT EXISTS (SELECT 1 FROM nullable_keys
        |                    WHERE k = o.o_custkey))
        |SELECT 'not_in' AS spelling, CAST(n AS BIGINT) AS n_rows
        |FROM via_not_in
        |UNION ALL
        |SELECT 'not_exists', CAST(n AS BIGINT) FROM via_not_exists
        |ORDER BY spelling""".stripMargin)
  }

  private val q297Sql =
    """WITH nullable_keys AS (
      |  SELECT CASE WHEN c_custkey % 100 = 0 THEN CAST(NULL AS BIGINT)
      |              ELSE c_custkey END AS k
      |  FROM customer),
      |via_not_in AS (
      |  SELECT COUNT(*) AS n FROM orders
      |  WHERE o_custkey NOT IN (SELECT k FROM nullable_keys)),
      |via_not_exists AS (
      |  SELECT COUNT(*) AS n FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM nullable_keys
      |                    WHERE k = o.o_custkey))
      |SELECT 'not_in' AS spelling, CAST(n AS BIGINT) AS n_rows
      |FROM via_not_in
      |UNION ALL
      |SELECT 'not_exists', CAST(n AS BIGINT) FROM via_not_exists
      |ORDER BY spelling""".stripMargin

  // --------------------------------------------------------------- q243

  /** q243: DATA-QUALITY AUDIT — the constraint pass a pipeline runs
    * before publishing a snapshot (dbt tests / Deequ checks without the
    * framework): range, referential-integrity, uniqueness and
    * null-presence assertions, each evaluated as ONE aggregate (or one
    * anti join for the foreign key) and unioned into the audit report a
    * write-audit-publish gate consumes. Every check reports
    * (checked, failed) rather than a boolean, so the artifact is
    * monitorable — a failure RATE, not a red light.
    *
    * Scale: each check is a map-side partial aggregate over its table;
    * the referential check is the q12 anti-join shape (orphans only
    * shuffle); the report is 4 rows however large the estate. Checks are
    * data-independent of each other — on a real cluster they run as one
    * job with shared scans per table.
    */
  private def q243(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val docs = Tables.documents(s, d)
    val qty = li.agg(count(lit(1)).as("n_checked"),
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
          .as("n_failed"))
      .select(lit("lineitem.quantity_in_range").as("check_name"),
        col("n_checked"), col("n_failed"))
    val orphans = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("nf"))
    val refs = o.agg(count(lit(1)).as("n_checked"))
      .crossJoin(broadcast(orphans))
      .select(lit("orders.custkey_refs_customer").as("check_name"),
        col("n_checked"), col("nf").as("n_failed"))
    val uniq = docs.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("n_failed"))
      .select(lit("documents.doc_id_unique").as("check_name"),
        col("n_checked"), col("n_failed"))
    val nn = o.agg(count(lit(1)).as("n_checked"),
        count(when(col("o_orderdate").isNull, 1)).as("n_failed"))
      .select(lit("orders.orderdate_not_null").as("check_name"),
        col("n_checked"), col("n_failed"))
    qty.unionByName(refs).unionByName(uniq).unionByName(nn)
      .orderBy(col("check_name"))
  }

  private val q243Sql =
    """SELECT 'documents.doc_id_unique' AS check_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_checked,
      |  CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_failed
      |FROM documents
      |UNION ALL
      |SELECT 'lineitem.quantity_in_range', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders.custkey_refs_customer',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |   WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey = o.o_custkey))
      |UNION ALL
      |SELECT 'orders.orderdate_not_null', CAST(COUNT(*) AS BIGINT),
      |  CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT)
      |FROM orders
      |ORDER BY check_name""".stripMargin

  // --------------------------------------------------------------- q265

  /** q265: OBSERVED METRICS — q243's audit numbers collected ON the
    * publish pass itself (`Dataset.observe`, Spark's CollectMetrics
    * operator) instead of as their own jobs: the documents-cleaning pass
    * writes its output ONCE, and the in/out row and character counts ride
    * along as accumulator-merged aggregates — zero additional scans, the
    * only affordable audit discipline at 100 TB (a second full pass for
    * counts doubles the bill). Two observation points bracket the filter,
    * so the report states what arrived AND what was published, from the
    * same job.
    *
    * Scale: each metric is a map-side partial aggregate merged on task
    * completion — O(partitions) driver cost, no shuffle, no extra stage
    * (Round10Spec pins ONE scan + two CollectMetrics in the pass's plan).
    */
  private def q265(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val obsIn = Observation()
    val obsOut = Observation()
    val stage = graft.StagingDirs.dir(s, "obs", d)
    Tables.documents(s, d)
      .observe(obsIn, count(lit(1)).as("n_rows"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .filter(length(col("text")) >= 200)
      .observe(obsOut, count(lit(1)).as("n_rows"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .write.mode("overwrite").parquet(s"$stage/published")
    // total_chars is a SUM: NULL (not 0) when a stage saw no rows — keep
    // the Option so the emitted column matches the oracle's NULL
    val metric = (st: String, o: Observation) =>
      (st, o.get("n_rows").asInstanceOf[Long],
        Option(o.get("total_chars")).map(_.asInstanceOf[Long]))
    import s.implicits._
    Seq(metric("input", obsIn), metric("published", obsOut))
      .toDF("stage", "n_rows", "total_chars").orderBy("stage")
  }

  private val q265Sql =
    """SELECT 'input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
      |FROM documents
      |UNION ALL
      |SELECT 'published', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(LENGTH(text)) AS BIGINT)
      |FROM documents WHERE LENGTH(text) >= 200
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- q268

  /** q268: the Spark-4 SQL front door, part two — the same pricing-rollup
    * shape authored in PIPE SYNTAX (`|>` — filter, derived column,
    * aggregate, order as a linear dataflow instead of inside-out SQL) with
    * the cutoff date bound as a NAMED PARAMETER (`spark.sql(text, args)`),
    * the injection-safe way a service parameterizes a hot query. Both are
    * pure front-end: the plan, the exact decimal arithmetic (q01's
    * spelling) and the oracle are identical to the classic form.
    *
    * Scale: same single-shuffle partial-agg plan as q01 — syntax choices
    * must not change plans, which is the point of pinning it.
    */
  private def q268(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v268")
    s.sql(
      """FROM lineitem_v268
        ||> WHERE l_shipdate >= CAST(:cutoff AS DATE)
        ||> EXTEND CAST(l_extendedprice AS DECIMAL(18,2))
        |     * (1 - CAST(l_discount AS DECIMAL(9,4))) AS rev
        ||> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
        |     CAST(SUM(rev) AS DOUBLE) AS revenue
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin,
      Map("cutoff" -> "1996-01-01"))
  }

  private val q268Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1996-01-01'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q243_dq_audit" -> q243,
    "q289_k_anonymity" -> q289,
    "q290_pseudonymize" -> q290,
    "q297_not_in_nulls" -> q297,
    "q265_observed_metrics" -> q265,
    "q268_sql_pipe" -> q268,
    "q188_market_share" -> q188,
    "q165_sql_frontdoor" -> q165,
    "q155_table_profile" -> q155,
    "q07_revenue_by_nation" -> q07,
    "q06_filter_sum" -> q06,
    "q01_pricing_summary" -> q01,
    "q02_filter_pushdown" -> q02,
    "q03_projection_const" -> q03,
    "q04_predicates" -> q04,
    "q05_coalesce_nullif" -> q05,
    "q110_unpivot" -> q110
  )

  override def oracles: Map[String, String] = Map(
    "q243_dq_audit" -> q243Sql,
    "q289_k_anonymity" -> q289Sql,
    "q290_pseudonymize" -> q290Sql,
    "q297_not_in_nulls" -> q297Sql,
    "q265_observed_metrics" -> q265Sql,
    "q268_sql_pipe" -> q268Sql,
    "q188_market_share" -> q188Sql,
    "q165_sql_frontdoor" -> q165Sql,
    "q155_table_profile" -> q155Sql,
    "q07_revenue_by_nation" -> q07Sql,
    "q06_filter_sum" -> q06Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown" -> q02Sql,
    "q03_projection_const" -> q03Sql,
    "q04_predicates" -> q04Sql,
    "q05_coalesce_nullif" -> q05Sql,
    "q110_unpivot" -> q110Sql
  )
}
