package graft.operators

import graft.{Exact, QueryModule, Tables}
import graft.GraftSession.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join surface — SURVEY.md §2.3 (J1–J7).
  *
  * The reference only *implies* joins (the stubbed quartile/country
  * enrichments, `/root/reference/main.py:173-185`, and the per-row detail
  * fetch at `main.py:78-87` which is a 1:1 left join done over HTTP). Here is
  * the full engine surface. Scale shapes:
  *   - fact⋈fact (lineitem⋈orders) shuffles both sides on the join key once;
  *     AQE picks shuffled-hash vs sort-merge at runtime.
  *   - fact⋈dim is always `broadcast()` — a 100 TB fact never shuffles for a
  *     dimension that fits on one executor.
  *   - range/as-of conditions ride on an equi-key (user_id) so they stay
  *     shuffle-partitionable; the range predicate is a post-join filter, and
  *     the as-of is a window over one shuffle, not an O(n²) join.
  */
object Joins extends QueryModule {

  /** q10: 3-way join, dims broadcast — revenue per market segment. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(Exact.money(col("l_extendedprice")) * (lit(1) - Exact.rate(col("l_discount"))))
          .cast(DoubleType).as("revenue")
      )
      .orderBy(col("c_mktsegment"))
  }

  private val q10Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q11: left outer join preserving customers with zero orders, folded to a
    * histogram so the result stays O(distinct counts) at any scale.
    */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(col("n_orders"))
  }

  private val q11Sql =
    """SELECT n_orders, COUNT(*) AS n_custs FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey
      |) GROUP BY n_orders ORDER BY n_orders""".stripMargin

  /** q12: left-semi join (SQL EXISTS) — customers with a finished order. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val q12Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_mktsegment = 'AUTOMOBILE'
      |  AND EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** q13: left-anti join (SQL NOT EXISTS) — customers with no orders. */
  private def q13(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q13Sql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** q14: full outer join of two pre-aggregated sides. Aggregating *before*
    * the join keeps the outer join O(groups) — the right shape when both
    * inputs are huge but low-cardinality on the key.
    */
  private def q14(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    val cus = Tables.customer(s, d).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    sup.join(cus, sup("s_nationkey") === cus("c_nationkey"), "full_outer")
      .select(
        coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust")
      )
      .orderBy(col("nationkey"))
  }

  private val q14Sql =
    """SELECT COALESCE(s.k, c.k) AS nationkey,
      |       COALESCE(s.n_supp, 0) AS n_supp,
      |       COALESCE(c.n_cust, 0) AS n_cust
      |FROM (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      |FULL OUTER JOIN (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
      |  ON s.k = c.k
      |ORDER BY nationkey""".stripMargin

  /** q15: range join riding an equi-key — purchases within 2 h of a signup by
    * the same user. The equi-key keeps it hash-partitionable; the time range
    * is a residual predicate, not a nested-loop join.
    */
  private def q15(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signup = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    signup.join(
        purchase,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("signup_ts") &&
          col("p_ts") <= col("signup_ts") + expr("INTERVAL 2 HOURS")
      )
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("user_id"))
  }

  private val q15Sql =
    s"""SELECT s.user_id, COUNT(*) AS n_pairs,
       |  ${Exact.sqlSumMoney("p.value")} AS total_value
       |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'signup') s
       |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events WHERE event_type = 'purchase') p
       |  ON s.user_id = p.user_id
       | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
       |GROUP BY s.user_id
       |ORDER BY s.user_id""".stripMargin

  /** q16: as-of join (SURVEY.md §2.3 J7) composed from built-ins: one window
    * over one shuffle carries the most recent prior 'view' ROW forward to
    * each 'purchase' — no O(n²) join, no custom strategy needed (§4.2).
    * View rows are tagged as single-field structs so `last(ignoreNulls)`
    * skips non-view rows but NOT a view whose value is null: last-ROW
    * semantics, the exact q108 native-operator contract (a last prior view
    * with a null value yields null, not an older non-null value).
    */
  private def q16(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("tagged", when(col("event_type") === "view", struct(col("value"))))
      .withColumn("last_view", last(col("tagged"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("last_view.value").as("last_view_value"))
      .orderBy(col("event_id"))
  }

  private val q16Sql =
    """SELECT event_id, user_id, last_view.v AS last_view_value FROM (
      |  SELECT event_id, user_id, event_type,
      |    LAST_VALUE(CASE WHEN event_type = 'view' THEN {'v': value} END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
      |  FROM events
      |) WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** q108: the as-of join again, through the NATIVE operator
    * ([[graft.plans.AsOfJoinPlan]] → `AsOfJoinStrategy` →
    * `AsOfJoinExec`, injected via `spark.sql.extensions`): purchases
    * pick up the value of the last strictly-prior view per user in one
    * sorted merge per co-partition — O(1) state, no window buffer, no
    * interleaved union. The oracle replays the exact last-prior-ROW
    * semantics with a correlated subquery (q16's window spelling is the
    * built-ins-only twin).
    */
  private def q108(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.plans.AsOfJoin(s, purchases, views,
        keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
        valueCol = "value", outName = "last_view_value")
      .select(col("event_id"), col("user_id"), col("last_view_value"))
      .orderBy(col("event_id"))
  }

  private val q108Sql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id,
      |  (SELECT v.value FROM v
      |   WHERE v.user_id = p.user_id
      |     AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id < p.event_id))
      |   ORDER BY v.ts DESC, v.event_id DESC NULLS FIRST LIMIT 1) AS last_view_value
      |FROM p ORDER BY p.event_id""".stripMargin

  /** q17: theta self-join (SURVEY.md §2.3 J6) — same-brand part pairs whose
    * sizes differ by at most 1. The equi key (brand) keeps the join
    * hash-partitionable; the size-band predicate is a residual filter, so
    * the plan is a shuffled equi-join, not a nested loop — the only theta
    * shape that survives a 100 TB side.
    */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
    p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          abs(col("a.p_size") - col("b.p_size")) <= 1)
      .groupBy(col("a.p_brand").as("brand"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("brand"))
  }

  private val q17Sql =
    """SELECT a.p_brand AS brand, COUNT(*) AS n_pairs
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      | AND a.p_partkey < b.p_partkey
      | AND ABS(a.p_size - b.p_size) <= 1
      |GROUP BY brand ORDER BY brand""".stripMargin

  /** q18: scalar subquery — orders priced above 1.5× the global exact mean.
    * The single-row aggregate broadcasts to every partition; the fact table
    * is scanned once.
    */
  private def q18(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val avgRow = o.agg(Exact.avgMoney(col("o_totalprice")).as("gavg"))
    o.join(broadcast(avgRow))
      .filter(col("o_totalprice") > col("gavg") * 1.5)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  private val q18Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders
       |WHERE o_totalprice > (SELECT ${Exact.sqlAvgMoney("o_totalprice")} FROM orders) * 1.5
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q19: correlated scalar subquery through the SQL entry point —
    * customers above their nation's exact mean balance. Catalyst
    * decorrelates this into an aggregate + equi-join; the oracle runs the
    * identical SQL. Exact decimal mean keeps both engines bit-equal.
    */
  private def q19(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
        |    SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey) > (
        |    SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2)))
        |    FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  private val q19Sql =
    """SELECT c_custkey, c_nationkey FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (
      |    SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey) > (
      |    SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2)))
      |    FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** q115: explicit CROSS JOIN — the dense pairing grid (every region ×
    * every order priority), completing the join-type surface (§2.3: inner /
    * outer / semi / anti / theta / range / as-of / cross). The grid is then
    * LEFT-joined to per-priority order stats so empty cells survive as
    * NULL — the report-matrix shape. Scale rule a cross join must obey: at
    * least one side O(1)-small (both are dims here — 5 regions × 5
    * priorities); Spark plans it as a BroadcastNestedLoopJoin, never a
    * shuffle.
    */
  private def q115(s: SparkSession, d: String): DataFrame = {
    val grid = Tables.region(s, d).select(col("r_name"))
      .crossJoin(Tables.orders(s, d).select(col("o_orderpriority")).distinct())
    val stats = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    grid.join(stats, Seq("o_orderpriority"), "left")
      .select(col("r_name"), col("o_orderpriority").as("priority"), col("n_orders"))
      .orderBy(col("r_name"), col("priority"))
  }

  private val q115Sql =
    """SELECT r_name, o_orderpriority AS priority, n_orders
      |FROM region
      |CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
      |LEFT JOIN (SELECT o_orderpriority AS p, COUNT(*) AS n_orders
      |           FROM orders GROUP BY 1) ON o_orderpriority = p
      |ORDER BY r_name, priority""".stripMargin

  /** q119: Pareto frontier (skyline) per brand — parts not DOMINATED by a
    * same-brand part that is ≤ on both (size, retailprice) and strictly <
    * on at least one. Spelled as a LEFT ANTI self-join whose equi key is
    * the brand and whose dominance test is a residual predicate: the plan
    * is one shuffled hash join, per-brand work is |brand|² worst case but
    * never cross-brand — the only skyline shape that survives a 100 TB
    * catalog (a global skyline would need the block-nested-loop family).
    */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
    p.as("p").join(p.as("q"),
        col("q.p_brand") === col("p.p_brand") &&
          col("q.p_size") <= col("p.p_size") &&
          col("q.p_retailprice") <= col("p.p_retailprice") &&
          (col("q.p_size") < col("p.p_size") ||
            col("q.p_retailprice") < col("p.p_retailprice")),
        "left_anti")
      .select(col("p.p_brand").as("brand"), col("p.p_partkey").as("partkey"),
        col("p.p_size").as("size"), col("p.p_retailprice").as("price"))
      .orderBy(col("brand"), col("partkey"))
  }

  private val q119Sql =
    """SELECT p.p_brand AS brand, p.p_partkey AS partkey,
      |  p.p_size AS size, p.p_retailprice AS price
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_brand = p.p_brand
      |    AND q.p_size <= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))
      |ORDER BY brand, partkey""".stripMargin

  /** q126: correlated LATERAL join — per-BUILDING-customer top-2 orders by
    * price, spelled as SQL `, LATERAL (... ORDER BY ... LIMIT 2)` (the
    * Spark 4 lateral-subquery surface; q30 is the window spelling of the
    * same shape). Catalyst decorrelates the limit-per-key into a
    * DomainJoin + rank filter — one shuffle join on the correlation key,
    * no per-customer subquery re-execution, so the plan is the q30 plan
    * and survives any customer count.
    */
  private def q126(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c.c_custkey AS custkey, c.c_name AS name,
        |       t.o_orderkey AS orderkey, t.o_totalprice AS price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY custkey, price DESC, orderkey""".stripMargin)
  }

  private val q126Sql =
    """SELECT c.c_custkey AS custkey, c.c_name AS name,
      |       t.o_orderkey AS orderkey, t.o_totalprice AS price
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_mktsegment = 'BUILDING'
      |ORDER BY custkey, price DESC, orderkey""".stripMargin


  /** q131: the as-of join's FORWARD direction through the same native
    * operator — each purchase picks up the value of the FIRST strictly
    * later view per user (the "next observation" shape: label lookahead,
    * next-quote matching). Same two shuffles + one reversed merge pass per
    * co-partition, O(1) state; see [[graft.plans.AsOfJoinExec]].
    */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.plans.AsOfJoin(s, purchases, views,
        keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
        valueCol = "value", outName = "next_view_value",
        direction = "forward")
      .select(col("event_id"), col("user_id"), col("next_view_value"))
      .orderBy(col("event_id"))
  }

  private val q131Sql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id,
      |  (SELECT v.value FROM v
      |   WHERE v.user_id = p.user_id
      |     AND (v.ts > p.ts OR (v.ts = p.ts AND v.event_id > p.event_id))
      |   ORDER BY v.ts ASC, v.event_id ASC NULLS FIRST LIMIT 1) AS next_view_value
      |FROM p ORDER BY p.event_id""".stripMargin


  /** q133: as-of join with a TOLERANCE bound — each purchase takes the
    * last prior view only if it happened within 30 minutes (stale context
    * is worse than none: the recommendation/attribution cutoff shape).
    * Same native merge as q108; the tolerance only filters the selected
    * row, which is equivalent to "latest row within tolerance" because
    * any other prior row is farther away.
    */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.plans.AsOfJoin(s, purchases, views,
        keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
        valueCol = "value", outName = "recent_view_value",
        tolerance = Some(30L * 60 * 1000000)) // 30 min in micros
      .select(col("event_id"), col("user_id"), col("recent_view_value"))
      .orderBy(col("event_id"))
  }

  private val q133Sql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id,
      |  (SELECT v.value FROM v
      |   WHERE v.user_id = p.user_id
      |     AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id < p.event_id))
      |     AND v.ts >= p.ts - INTERVAL 30 MINUTE
      |   ORDER BY v.ts DESC, v.event_id DESC NULLS FIRST LIMIT 1) AS recent_view_value
      |FROM p ORDER BY p.event_id""".stripMargin

  /** q167: nearest-event join — each purchase matched to its CLOSEST view
    * in time, either direction, composing the native as-of operator twice
    * (backward + forward through [[graft.plans.AsOfJoinPlan]]) and picking
    * the closer candidate (ties prefer the prior view). The global
    * nearest-by-|Δt| IS the closer of the two as-of candidates, so two
    * O(1)-state merges replace a per-purchase scan of the user's views.
    * Carried value is a (ts, value) struct so the distance is computable
    * from the match itself. Signed `delta_us` < 0 means the view preceded
    * the purchase.
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"),
        struct(col("ts").as("vts"), col("value").as("v")).as("vs"))
    val withPrev = graft.plans.AsOfJoin(s, purchases, views,
      keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
      valueCol = "vs", outName = "prev")
    val both = graft.plans.AsOfJoin(s, withPrev, views,
      keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
      valueCol = "vs", outName = "nxt", direction = "forward")
    val dPrev = unix_micros(col("ts")) - unix_micros(col("prev.vts"))
    val dNext = unix_micros(col("nxt.vts")) - unix_micros(col("ts"))
    both.select(col("event_id"), col("user_id"),
        when(col("prev").isNotNull &&
            (col("nxt").isNull || dPrev <= dNext), col("prev.v"))
          .otherwise(col("nxt.v")).as("nearest_value"),
        when(col("prev").isNotNull &&
            (col("nxt").isNull || dPrev <= dNext), -dPrev)
          .otherwise(dNext).as("delta_us"))
      .orderBy(col("event_id"))
  }

  private val q167Sql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  value, event_type FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS vid, user_id, ts AS vts, value
      |      FROM e WHERE event_type = 'view'),
      |cand AS (
      |  SELECT p.event_id, p.user_id, v.value,
      |    epoch_us(v.vts) - epoch_us(p.ts) AS delta_us,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY
      |      abs(epoch_us(v.vts) - epoch_us(p.ts)),
      |      CASE WHEN (v.vts, v.vid) < (p.ts, p.event_id) THEN 0 ELSE 1 END,
      |      CASE WHEN (v.vts, v.vid) < (p.ts, p.event_id)
      |           THEN -v.vid ELSE v.vid END) AS rk
      |  FROM p LEFT JOIN v ON p.user_id = v.user_id)
      |SELECT event_id, user_id, value AS nearest_value, delta_us
      |FROM cand WHERE rk = 1 ORDER BY event_id""".stripMargin

  /** q176: SCD2 point-in-time lookup — every purchase joined to the
    * dimension row VALID AT its timestamp (the q139 interval build,
    * consumed): the warehouse temporal pattern `fact.ts ∈ [valid_from,
    * valid_to)`. Spelled as the native as-of join (the state valid at t
    * IS the last state change ≤ t), which replaces the interval
    * containment join a naive spelling needs — the oracle runs that
    * containment join, so the equivalence of the two spellings is what
    * the hash compare checks. Dimension here: each user's event-type
    * state timeline from their own history (signup/view/…), per q139.
    *
    * Scale: one co-partitioned sorted merge (O(1) state) vs the oracle's
    * interval join; at 10⁹ facts × SCD2 dims this is the difference
    * between a merge and a range-bucketed join.
    */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // the q139 run-collapse, inline: state-change rows only
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .select(col("user_id"), col("ts"), col("event_id"), col("state"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.AsOfJoin(s, purchases, dim,
        keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
        valueCol = "state", outName = "state_at_purchase")
      .groupBy(col("state_at_purchase"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("state_at_purchase"))
  }

  private val q176Sql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |                  event_type FROM events),
      |runs AS (
      |  SELECT user_id, ts, event_id, event_type AS state,
      |    LAG(event_type) OVER w AS prev_state
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |dim AS (
      |  SELECT user_id, state, ts AS valid_from, event_id,
      |    LEAD((ts, event_id)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM runs WHERE prev_state IS NULL OR prev_state <> state),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |looked AS (
      |  SELECT p.event_id,
      |    (SELECT d.state FROM dim d
      |     WHERE d.user_id = p.user_id
      |       AND (d.valid_from, d.event_id) < (p.ts, p.event_id)
      |       AND (d.nxt IS NULL OR (p.ts, p.event_id) <= d.nxt)
      |    ) AS state_at_purchase
      |  FROM p)
      |SELECT state_at_purchase, COUNT(*) AS n_purchases
      |FROM looked GROUP BY 1 ORDER BY 1""".stripMargin

  /** q189: sole-responsible supplier — the TPC-H Q21 plan shape, the one
    * decorrelation stress the join family still lacked: a semi-join AND an
    * anti-join against the SAME fact table, each an equi-join on
    * `l_orderkey` with a residual `l_suppkey <>` inequality. Here: within
    * finished ('F') multi-supplier orders, suppliers whose line was the
    * ONLY returned ('R') one — EXISTS(another supplier's line in the
    * order) AND NOT EXISTS(another supplier's RETURNED line) — counted
    * per supplier, top 10. (The reference predicate pair in Q21 is
    * receipt-after-commit lateness; this corpus has no commit/receipt
    * dates, so the returned-flag stands in — the plan shape is the point.)
    *
    * Scale: all three lineitem legs and the orders filter join on the SAME
    * key (`l_orderkey`), so one hash partitioning serves the semi, the
    * anti, and the orders join — Catalyst reuses the exchange instead of
    * re-shuffling the 100 TB fact three times. The residual `<>` rides the
    * equi-key as a post-match filter (never a nested loop), and the
    * supplier name lookup broadcasts.
    */
  private def q189(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val l1 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    l1.join(l2, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(l3, col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(10)
  }

  private val q189Sql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** q191: customer order-count distribution — the TPC-H Q13 plan shape,
    * the most common BI idiom the join family still lacked: a LEFT OUTER
    * join whose ON clause carries a right-side filter (orders outside the
    * urgent class; zero-order customers must survive with count 0), a
    * per-customer count, then an aggregate OF the aggregate (how many
    * customers placed k orders). Reference analog: the implied
    * articles-per-journal distribution over the scraper's JSON dumps
    * (main.py:109 appends one row per article; grouping them by journal
    * and then by count is exactly this shape).
    *
    * Scale: the outer join shuffles each side once on its custkey; the
    * per-customer count then rides the JOIN's partitioning (SMJ LeftOuter
    * preserves the streamed side's custkey layout, so Catalyst inserts no
    * third exchange — PlanSpec pins both). The distribution agg's input is
    * one row per customer and partial-aggregates to at most one row per
    * distinct count per task before its tiny shuffle. `count(o_orderkey)`
    * (non-null counting) is what makes the unmatched-outer rows score 0.
    */
  private def q191(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d)
      .filter(!col("o_orderpriority").like("%URGENT%"))
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  private val q191Sql =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q196: large-volume orders — the TPC-H Q18 plan shape: a HAVING
    * semi-filter over a grouped aggregate of the fact ("orders whose
    * total quantity tops 300"), enriched back with the order header and
    * the customer name. The agg-of-the-fact-filtering-the-fact idiom
    * that Q13 (q191) does with an outer join and Q17 (q192) does with a
    * per-group scalar. Reference analog: "journals whose article volume
    * crosses a threshold" over the scraper's buffer
    * (`/root/reference/main.py:109`).
    *
    * Scale: lineitem shuffles ONCE on l_orderkey for the quantity rollup;
    * the >300 survivors are a sliver (46 of 15 k orders at sf0.01, and
    * TPC-H specifies ~1 row per 1.5 M lineitems at any SF), so the
    * enrichment join broadcasts the sliver into the orders scan — the
    * fact's carried `total_qty` means Q18's canonical second lineitem
    * join is gone entirely. Customer is a broadcast dim. Top-100 rides
    * TakeOrderedAndProject, never a global sort.
    */
  private def q196(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity").cast(LongType).as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("total_qty"))
      .filter(col("total_qty") > 300L)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }

  private val q196Sql =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
      |SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** q197: high-balance dormant customers — the TPC-H Q22 plan shape:
    * an ANTI join against a filtered fact ("customers with no urgent
    * order") gated by a GLOBAL scalar subquery ("balance above the
    * positive-balance average"), rolled up by segment. Completes the
    * decision-support decorrelation family: q190 broadcasts a global
    * scalar into a HAVING, q192 joins a per-group scalar back on its
    * key, and here the global scalar gates the probe side of an
    * anti-join.
    *
    * Exactness: the average never materializes — `bal · poscnt > possum`
    * cross-multiplies it away in DECIMAL×BIGINT, so no division sits
    * near the decision boundary.
    *
    * Scale: the 1-row (possum, poscnt) aggregate broadcasts into the
    * customer scan (a literal cross join Catalyst plans as
    * BroadcastNestedLoopJoin over one row); the anti join shuffles
    * customer and the o_custkey projection once each on custkey — at
    * 100 TB the orders side partial-aggregates to distinct custkeys
    * map-side because LeftAnti only needs key presence. Segment rollup
    * state is |segments| rows.
    */
  private def q197(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        Exact.money(col("c_acctbal")).as("bal"))
    val pos = c.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("possum"), count(lit(1)).as("poscnt"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority").like("%URGENT%"))
      .select(col("o_custkey"))
    c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(pos))
      .filter(col("bal") * col("poscnt") > col("possum"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast(DoubleType).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  private val q197Sql =
    """WITH pos AS (
      |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS possum,
      |    COUNT(*) AS poscnt
      |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, pos
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority LIKE '%URGENT%')
      |  AND CAST(c_acctbal AS DECIMAL(18,2)) * poscnt > possum
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q204: disjunctive promo revenue — the TPC-H Q19 plan shape: a join
    * whose condition is an OR of three brand/size/quantity conjunctions,
    * each spanning BOTH relations. The planner stress is equi-key
    * extraction: `p_partkey = l_partkey` is common to every disjunct, so
    * Catalyst must pull it out as the hash key and leave the OR as a
    * residual — an engine that fails this runs an all-pairs nested loop
    * over the fact (the PlanSpec pin). Revenue stays exact decimal:
    * money × (1 − rate), summed at scale 6, one double cast at the end.
    *
    * Scale: the broadcast hint exempts part from Spark's size check, so
    * the single-relation slices of the OR are pushed BELOW it by hand —
    * part ships only the three-brand sliver
    * ((b1∧s≤10)∨(b2∧s≤20)∨(b3∧s≤30)), lineitem scans only the quantity
    * envelope [1,50] — and the full OR stays as the join residual,
    * evaluated map-side after the hash probe. At 100× the dimension no
    * longer rides the hint unfiltered; this is TPC-H Q19's textbook
    * inferred-filter plan. Zero shuffles before the 1-row aggregate.
    */
  private def q204(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val partSideOr =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 30))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .filter(partSideOr)
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .filter(col("l_quantity").between(1, 50))
      .join(broadcast(p),
        col("p_partkey") === col("l_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 50))))
      .agg(
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val q204Sql =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
      |       AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
      |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** q207: shipping-priority top-10 — the TPC-H Q3 plan shape: the
    * segment slice of customers semi-filters orders, unshipped lines
    * join on the order key, and the per-order revenue rollup feeds a
    * top-10. With q207–q213 the engine covers all 22 TPC-H query
    * shapes.
    *
    * Scale: the segment filter broadcasts as a semi-join into orders
    * (1/5 selectivity, but custkey-granular — never touches the fact
    * width); lineitem and the kept orders shuffle ONCE each on orderkey;
    * the per-order rollup rides that same partitioning (group key ⊇
    * join key), and the top-10 is TakeOrderedAndProject.
    */
  private def q207(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val cutoff = lit("1998-01-01").cast(TimestampType)
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_semi")
    Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  private val q207Sql =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** q208: late-order priority check — the TPC-H Q4 plan shape: EXISTS
    * as a semi-join whose condition spans BOTH relations (a line shipped
    * more than 60 days after its order date), counted per priority
    * class. The semantics Q12 lacks here (no commit/receipt dates in
    * this schema) expressed against ship-vs-order lateness.
    *
    * Scale: semi join on orderkey with the date comparison as residual —
    * one shuffle each side, the EXISTS never materializes matches (first
    * hit short-circuits); the priority rollup is 5 rows of reducer
    * state.
    */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1996-07-01").cast(TimestampType))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    o.join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q208Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q209: bilateral trade volume — the TPC-H Q7 plan shape: supplier
    * nation × customer nation flows between a named pair, in BOTH
    * directions, by ship year. The two nation lookups are the SAME dim
    * joined twice under different roles (q188 does this too); the pair
    * filter is an OR spanning both roles, applied after the equi-joins.
    *
    * Scale: nation→supplier and nation→customer broadcast (dims);
    * orders⋈customer shuffles on custkey (customer is a fact at 100 TB),
    * lineitem⋈orders on orderkey — the two fact shuffles any
    * order-grain × line-grain query needs and no more. The 2-nation
    * semi-slice prunes both facts before their shuffles.
    */
  private def q209(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val pair = Seq("NATION_1", "NATION_2")
    val n = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cus = Tables.customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val oc = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(cus, col("o_custkey") === col("c_custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(oc, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val q209Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(vol) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(9,4))) AS vol
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      |    AND n2.n_name IN ('NATION_1', 'NATION_2')
      |    AND n1.n_name <> n2.n_name)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q210: product-line profit by nation and year — the TPC-H Q9 plan
    * shape: the widest join tree in the suite (lineitem × part ×
    * supplier × orders × nation), a name-substring part filter, and a
    * computed profit measure. This schema has no partsupp, so supply
    * cost is stood in by the part's retail price pro-rated per unit —
    * the join tree and measure arithmetic (product minus product, exact
    * decimal) are the point.
    *
    * Scale: part (name-filtered) and supplier⋈nation broadcast;
    * lineitem shuffles once on orderkey to reach the order date. The
    * profit expression stays whole-stage-codegen decimal; the rollup is
    * |nations|×|years| rows.
    */
  private def q210(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val p = Tables.part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast(LongType).as("qty"),
        col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
          - money(col("p_retailprice")) * col("qty"))
        .cast(DoubleType).as("profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  private val q210Sql =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l_discount AS DECIMAL(9,4)))
      |         - CAST(p_retailprice AS DECIMAL(18,2))
      |           * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** q211: returned-item losses — the TPC-H Q10 plan shape: the 'R'
    * return slice of a two-quarter order window, revenue rolled up per
    * customer FIRST (custkey grain), then enriched with the customer
    * record and nation — the aggregate-before-enrich ordering that keeps
    * the wide customer row out of the fact shuffle. Top-20 losers.
    *
    * Scale: lineitem('R') ⋈ orders(window) on one orderkey exchange;
    * the per-customer rollup shuffles the slimmed (custkey, revenue)
    * pairs once; the enrichment join then moves only |window customers|
    * rows against the customer fact, and nation broadcasts. Top-20 is
    * TakeOrderedAndProject.
    */
  private def q211(s: SparkSession, d: String): DataFrame = {
    import Exact._
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1997-07-01").cast(TimestampType))
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .as("rev"))
    rev.join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("rev").cast(DoubleType).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  private val q211Sql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS rev
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-07-01'
      |  GROUP BY 1)
      |SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(rev AS DOUBLE) AS revenue
      |FROM rev
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q275

  /** q275: FIFO allocation matching via typed `cogroup` — the §2.10
    * ladder's typed-Dataset rung on a problem it genuinely fits: per part,
    * returned quantities consume shipped quantities first-in-first-out
    * (shipments and returns each ordered by ship date), emitting one row
    * per (shipment, return) pair with the matched quantity — the
    * inventory-costing / lot-matching primitive (FIFO cost basis, returns
    * reconciliation, batch lineage).
    *
    * The imperative spelling is a two-pointer merge over the two sorted
    * per-key lists — O(group) memory, O(group log group) time, one
    * co-partitioned shuffle on partkey, no join blowup. The ORACLE is the
    * purely relational twin: FIFO matching = interval intersection of the
    * two cumulative-quantity axes (shipment i covers [cumSᵢ₋₁, cumSᵢ),
    * return j covers [cumRⱼ₋₁, cumRⱼ), matched = overlap length), so the
    * hash compare proves the imperative and relational algorithms agree
    * pair-for-pair. Quantities are integral → all arithmetic exact.
    *
    * Scale: groups are bounded by per-part line counts (≤49 at sf0.01);
    * a 100 TB run keys the cogroup on (partkey) exactly like this and the
    * relational spelling (one window + one self-join) is the fallback if
    * a pathological key ever outgrew executor memory.
    */
  private def q275(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // (partkey, isReturn, shipdate-iso, orderkey, linenumber, qty, cents)
    // the 5-part tail is a TOTAL order within (partkey, side) — verified
    // unique on the testdata; cents = price*100 exact for 2-decimal money
    val ds = Tables.lineitem(s, d).select(
      col("l_partkey"), (col("l_returnflag") === "R").as("isret"),
      col("l_shipdate").cast(StringType).as("sd"),
      col("l_orderkey"), col("l_linenumber").cast(LongType),
      col("l_quantity").cast(LongType).as("qty"),
      (col("l_extendedprice") * 100).cast(LongType).as("cents"))
      .as[(Long, Boolean, String, Long, Long, Long, Long)]
    val ships = ds.filter(!_._2).groupByKey(_._1)
    val rets = ds.filter(_._2).groupByKey(_._1)
    val pairs = ships.cogroup(rets) { (k, sIt, rIt) =>
      val key = (t: (Long, Boolean, String, Long, Long, Long, Long)) =>
        (t._3, t._4, t._5, t._6, t._7)
      fifoMatch(k, sIt.toArray.sortBy(key).map(_._6),
        rIt.toArray.sortBy(key).map(_._6))
    }
    pairs.toDF("partkey", "ship_rank", "ret_rank", "qty_matched")
      .orderBy(col("partkey"), col("ship_rank"), col("ret_rank"))
  }

  /** The q275 core: two-pointer FIFO match of return quantities against
    * shipment quantities (both already in FIFO order), emitting
    * (key, shipRank, retRank, matched) per overlapping pair. Factored out
    * so the property spec can drive it against a unit-by-unit simulation.
    */
  private[operators] def fifoMatch(k: Long, qS: Array[Long],
                                   qR: Array[Long]): Iterator[(Long, Long, Long, Long)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
    var i = 0; var j = 0
    var sStart = 0L; var rStart = 0L
    while (i < qS.length && j < qR.length) {
      val sEnd = sStart + qS(i)
      val rEnd = rStart + qR(j)
      val hi = math.min(sEnd, rEnd)
      val lo = math.max(sStart, rStart)
      if (hi > lo) out += ((k, i + 1L, j + 1L, hi - lo))
      if (sEnd <= rEnd) { i += 1; sStart = sEnd }
      if (rEnd <= sEnd) { j += 1; rStart = rEnd }
    }
    out.iterator
  }

  private val q275Sql =
    """WITH base AS (
      |  SELECT l_partkey, l_returnflag = 'R' AS isret,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS cum
      |  FROM lineitem
      |  WINDOW w AS (
      |    PARTITION BY l_partkey, l_returnflag = 'R'
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity,
      |             l_extendedprice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT s.l_partkey AS partkey, s.rnk AS ship_rank, r.rnk AS ret_rank,
      |  CAST(LEAST(s.cum, r.cum)
      |       - GREATEST(s.cum - s.qty, r.cum - r.qty) AS BIGINT) AS qty_matched
      |FROM base s JOIN base r
      |  ON s.l_partkey = r.l_partkey AND NOT s.isret AND r.isret
      |  AND s.cum - s.qty < r.cum AND r.cum - r.qty < s.cum
      |ORDER BY partkey, ship_rank, ret_rank""".stripMargin

  // --------------------------------------------------------------- q281

  private val riAudited =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Audit the PK–FK pairs q281 declares, then register them with
    * [[graft.plans.DeclaredConstraints]] — declared constraints are
    * VERIFIED, not trusted: non-null FK, no dangling FK (anti join), and
    * dim-key uniqueness, each a cheap key-column pass, once per
    * (session, dataset).
    */
  private def auditAndDeclare(s: SparkSession, d: String): Unit =
    if (!riAudited.contains(d)) {
      val li = Tables.lineitem(s, d)
      def audit(fk: String, dim: DataFrame, pk: String): Unit = {
        require(li.filter(col(fk).isNull).limit(1).count() == 0, s"null $fk")
        require(li.select(col(fk)).distinct()
          .join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
          .limit(1).count() == 0, s"dangling $fk")
        require(dim.groupBy(col(pk)).count().filter(col("count") > 1)
          .limit(1).count() == 0, s"non-unique $pk")
      }
      audit("l_orderkey", Tables.orders(s, d), "o_orderkey")
      audit("l_partkey", Tables.part(s, d), "p_partkey")
      graft.plans.DeclaredConstraints.register(
        graft.plans.DeclaredConstraints.FkPk("l_orderkey",
          Set("o_orderkey", "o_custkey", "o_orderpriority"), "o_orderkey",
          s"$d/orders.parquet"))
      graft.plans.DeclaredConstraints.register(
        graft.plans.DeclaredConstraints.FkPk("l_partkey",
          Set("p_partkey", "p_name", "p_brand"), "p_partkey",
          s"$d/part.parquet"))
      riAudited.add(d)
    }

  /** q281: PK–FK JOIN ELIMINATION through a BI wide view — the
    * [[graft.plans.JoinElimination]] rule at work: the query is written
    * against the convenience view `lineitem ⋈ orders ⋈ part` (the shape a
    * semantic layer publishes), but reads only lineitem columns, so with
    * the audited RI constraints declared BOTH dimension joins — and both
    * dimension scans — vanish from the executed plan (Round10Spec pins
    * lineitem-only file scans and row equality with the rule off). The
    * oracle computes the rollup from lineitem ALONE: the hash match IS
    * the proof that dropping the joins was semantics-preserving.
    *
    * Scale: at 100 TB this is the difference between one fact scan and
    * fact + two dimension shuffles a user's SELECT list never needed;
    * the RI audit is three key-column passes, amortized across every
    * query the view serves.
    */
  private def q281(s: SparkSession, d: String): DataFrame = {
    auditAndDeclare(s, d)
    withConf(s, "spark.graft.ri.eliminate" -> "true") { s =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val p = Tables.part(s, d)
      val wide = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(p, li("l_partkey") === p("p_partkey"))
      wide.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag"))
    }
  }

  private val q281Sql =
    s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS gross
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q405

  /** q405: NULL-SAFE EQUI-JOIN (`<=>` / IS NOT DISTINCT FROM) — the join
    * semantics data integration actually needs: two extracts keyed by a
    * NULLABLE natural key (here a bucketed value, NULL when the reading
    * is below the instrument floor) must pair their unknown-key rows
    * too, which strict `=` silently drops — the classic
    * reconciliation-count mystery. Both sides pre-aggregate to per-key
    * counts (pairs = Σ cntA·cntB — the join result is computed on ≤
    * |buckets| rows, never materialized row-by-row), then ONE result row
    * carries strict vs null-safe pair totals and both sides' NULL-key
    * masses: nullsafe − strict = nullA·nullB, an identity the oracle
    * hash-checks.
    *
    * Scale: the pre-aggregation makes the pairing O(distinct keys)
    * regardless of row count — the fix for every many-to-many
    * reconciliation blow-up; the `<=>` condition itself stays a hash
    * join (Spark rewrites null-safe equality into a hashable key).
    */
  private def q405(s: SparkSession, d: String): DataFrame = {
    def side(parity: Int): DataFrame = Tables.events(s, d)
      .filter(col("event_id") % 2 === parity)
      .select(when(col("value") < 50.0, lit(null))
        .otherwise((expr("CAST(FLOOR(value) AS BIGINT)") % 100)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as(s"cnt$parity"))
    val a = side(0)
    val b = side(1)
    val strict = a.join(b, a("k") === b("k"))
      .agg(coalesce(sum(col("cnt0") * col("cnt1")), lit(0L))
        .as("strict_pairs"))
    val nullsafe = a.join(b, a("k") <=> b("k"))
      .agg(coalesce(sum(col("cnt0") * col("cnt1")), lit(0L))
        .as("nullsafe_pairs"))
    val nulls = Tables.events(s, d)
      .agg(
        sum(when(col("event_id") % 2 === 0 && col("value") < 50.0, 1L)
          .otherwise(0L)).as("null_a"),
        sum(when(col("event_id") % 2 === 1 && col("value") < 50.0, 1L)
          .otherwise(0L)).as("null_b"))
    strict.crossJoin(nullsafe).crossJoin(nulls)
  }

  private val q405Sql =
    """WITH a AS (
      |  SELECT CASE WHEN value < 50.0 THEN NULL
      |    ELSE CAST(FLOOR(value) AS BIGINT) % 100 END AS k,
      |    CAST(COUNT(*) AS BIGINT) AS cnt0
      |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN value < 50.0 THEN NULL
      |    ELSE CAST(FLOOR(value) AS BIGINT) % 100 END AS k,
      |    CAST(COUNT(*) AS BIGINT) AS cnt1
      |  FROM events WHERE event_id % 2 = 1 GROUP BY 1)
      |SELECT
      |  (SELECT CAST(COALESCE(SUM(cnt0 * cnt1), 0) AS BIGINT)
      |   FROM a JOIN b ON a.k = b.k) AS strict_pairs,
      |  (SELECT CAST(COALESCE(SUM(cnt0 * cnt1), 0) AS BIGINT)
      |   FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k) AS nullsafe_pairs,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
      |   WHERE event_id % 2 = 0 AND value < 50.0) AS null_a,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
      |   WHERE event_id % 2 = 1 AND value < 50.0) AS null_b""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q405_null_safe_join" -> q405,
    "q281_join_elimination" -> q281,
    "q275_fifo_matching" -> q275,
    "q207_shipping_priority" -> q207,
    "q208_priority_check" -> q208,
    "q209_bilateral_volume" -> q209,
    "q210_profit_by_nation" -> q210,
    "q211_returned_items" -> q211,
    "q204_disjunctive_join" -> q204,
    "q196_big_orders" -> q196,
    "q197_dormant_customers" -> q197,
    "q191_custdist" -> q191,
    "q189_sole_supplier" -> q189,
    "q176_scd2_lookup" -> q176,
    "q167_nearest_event" -> q167,
    "q17_join_theta" -> q17,
    "q115_cross_join_grid" -> q115,
    "q119_pareto_frontier" -> q119,
    "q126_lateral_topk" -> q126,
    "q18_scalar_subquery" -> q18,
    "q19_correlated_subquery" -> q19,
    "q10_join_broadcast" -> q10,
    "q11_join_left_outer" -> q11,
    "q12_join_semi" -> q12,
    "q13_join_anti" -> q13,
    "q14_join_full_outer" -> q14,
    "q15_join_range" -> q15,
    "q16_join_asof" -> q16,
    "q108_asof_native" -> q108,
    "q131_asof_forward" -> q131,
    "q133_asof_tolerance" -> q133
  )

  override def oracles: Map[String, String] = Map(
    "q405_null_safe_join" -> q405Sql,
    "q281_join_elimination" -> q281Sql,
    "q275_fifo_matching" -> q275Sql,
    "q207_shipping_priority" -> q207Sql,
    "q208_priority_check" -> q208Sql,
    "q209_bilateral_volume" -> q209Sql,
    "q210_profit_by_nation" -> q210Sql,
    "q211_returned_items" -> q211Sql,
    "q204_disjunctive_join" -> q204Sql,
    "q196_big_orders" -> q196Sql,
    "q197_dormant_customers" -> q197Sql,
    "q191_custdist" -> q191Sql,
    "q189_sole_supplier" -> q189Sql,
    "q176_scd2_lookup" -> q176Sql,
    "q167_nearest_event" -> q167Sql,
    "q17_join_theta" -> q17Sql,
    "q115_cross_join_grid" -> q115Sql,
    "q119_pareto_frontier" -> q119Sql,
    "q126_lateral_topk" -> q126Sql,
    "q18_scalar_subquery" -> q18Sql,
    "q19_correlated_subquery" -> q19Sql,
    "q10_join_broadcast" -> q10Sql,
    "q11_join_left_outer" -> q11Sql,
    "q12_join_semi" -> q12Sql,
    "q13_join_anti" -> q13Sql,
    "q14_join_full_outer" -> q14Sql,
    "q15_join_range" -> q15Sql,
    "q16_join_asof" -> q16Sql,
    "q108_asof_native" -> q108Sql,
    "q131_asof_forward" -> q131Sql,
    "q133_asof_tolerance" -> q133Sql
  )
}
