package graft.operators

import graft.{Exact, QueryModule, Tables}
import graft.functions.Digest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregation surface — SURVEY.md §2.4.
  *
  * The reference never groups (rows are appended at `main.py:109` and dumped
  * whole); everything here is the [S] capability set. Every groupBy below
  * compiles to hash aggregation with map-side partial aggregation — the
  * shuffle moves O(groups) rows, not O(input), which is what makes these
  * viable on a 100 TB fact table. `countDistinct` rewrites to expand+two-
  * phase agg; `approx_count_distinct` is single-pass mergeable HLL++ for when
  * the exact rewrite's shuffle is too wide.
  */
object Aggregations extends QueryModule {

  /** q20: multi-aggregate with exact and distinct measures. */
  private def q20(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_custs"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        Exact.avgMoney(col("o_totalprice")).as("avg_price")
      )
      .orderBy(col("o_orderpriority"))

  private val q20Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  COUNT(DISTINCT o_custkey) AS n_custs,
       |  MIN(o_totalprice) AS min_price,
       |  MAX(o_totalprice) AS max_price,
       |  ${Exact.sqlAvgMoney("o_totalprice")} AS avg_price
       |FROM orders GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** q21: ROLLUP over the region→nation hierarchy. Grouping-null slots are
    * folded to a sentinel so the output carries no nulls (stable ordering in
    * both engines, SURVEY.md §7.3 null-ordering drift).
    */
  private def q21(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_custs"))
      .select(
        coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("n_custs")
      )
      .orderBy(col("region"), col("nation"))
  }

  private val q21Sql =
    """SELECT COALESCE(r_name, '(all)') AS region,
      |       COALESCE(n_name, '(all)') AS nation,
      |       COUNT(*) AS n_custs
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** q22: CUBE over two independent dimensions. */
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total")
      )
      .orderBy(col("status"), col("priority"))

  private val q22Sql =
    s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
       |       COALESCE(o_orderpriority, '(all)') AS priority,
       |       COUNT(*) AS n,
       |       ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  /** q23: distinct / dropDuplicates — the dedup primitive named in the north
    * star. Distinct is itself a hash aggregation (shuffle on all columns).
    */
  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  private val q23Sql =
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** q24: approximate distinct (HLL++, rsd 5%). No SQL oracle — DuckDB's
    * approx_count_distinct uses a different sketch, so values legitimately
    * differ; AggregationsSpec pins the estimate against the exact count.
    */
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("approx_orders")
      )
      .orderBy(col("l_returnflag"))

  /** q25: collect-agg repacking (the author-list shape, §1.2) with a total
    * order inside the packed value so the result is deterministic.
    */
  private def q25(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .groupBy(col("s_nationkey"))
      .agg(
        array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"),
        count(lit(1)).as("n_supp")
      )
      .orderBy(col("s_nationkey"))

  private val q25Sql =
    """SELECT s_nationkey,
      |  string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
      |  COUNT(*) AS n_supp
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** q26: GROUPING SETS via the SQL entry point (the DataFrame API has no
    * grouping-sets verb) — also exercises `spark.sql` + temp views.
    */
  private def q26(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT COALESCE(l_returnflag, '(all)') AS rf,
        |       COALESCE(l_linestatus, '(all)') AS ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  private val q26Sql =
    """SELECT COALESCE(l_returnflag, '(all)') AS rf,
      |       COALESCE(l_linestatus, '(all)') AS ls,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin

  /** q27: statistical aggregates with exact arithmetic — sample variance
    * computed from exact decimal Σx and Σx² via the textbook identity
    * (n·Σx² − (Σx)²) / (n(n−1)), then one double division; the naive
    * double-accumulation stddev would be partition-order-dependent and
    * can't hash-compare. Median via interpolated percentile (both engines
    * use linear interpolation on the sorted values).
    */
  private def q27(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        Exact.avgMoney(col("p_retailprice")).as("mean_price"),
        // guard n > 1: Spark's 0-denominator double division is NULL (ANSI
        // off) while DuckDB's is inf — make both engines emit NULL
        when(count(lit(1)) > 1,
          (count(lit(1)) * sum(col("p_size").cast(LongType) * col("p_size"))
            - sum(col("p_size").cast(LongType)) * sum(col("p_size").cast(LongType)))
            .cast(DoubleType)
            / (count(lit(1)) * (count(lit(1)) - 1))).as("var_size"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(p_size AS BIGINT))")
          .cast(DoubleType).as("median_size")
      )
      .orderBy(col("p_brand"))

  private val q27Sql =
    s"""SELECT p_brand, COUNT(*) AS n,
       |  ${Exact.sqlAvgMoney("p_retailprice")} AS mean_price,
       |  CASE WHEN COUNT(*) > 1 THEN
       |    CAST(CAST(COUNT(*) * SUM(CAST(p_size AS BIGINT) * p_size)
       |         - SUM(CAST(p_size AS BIGINT)) * SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS DOUBLE)
       |      / (COUNT(*) * (COUNT(*) - 1)) END AS var_size,
       |  CAST(quantile_cont(CAST(p_size AS BIGINT), 0.5) AS DOUBLE) AS median_size
       |FROM part GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** q28: pivot — order counts per priority pivoted to one column per
    * status. Compiles to a single hash agg with conditional counts (same
    * plan as the CASE spelling in the oracle): one shuffle of O(groups).
    */
  private def q28(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy(col("o_orderpriority"))

  private val q28Sql =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q29: min_by/max_by — the order id carrying each group's price
    * extremes (deterministic because o_totalprice ties are broken by
    * nothing — verified unique per group at this data; the id itself is
    * unique).
    */
  private def q29(s: SparkSession, d: String): DataFrame = {
    // tie-proof scalar ordering key: exact cents * 1e8 + unique order key
    val key = expr(
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100000000 + o_orderkey")
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), key).as("max_price_order"),
        min_by(col("o_orderkey"), key).as("min_price_order")
      )
      .orderBy(col("o_orderpriority"))
  }

  private val q29Sql =
    """SELECT o_orderpriority,
      |  arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100000000 + o_orderkey) AS max_price_order,
      |  arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 100000000 + o_orderkey) AS min_price_order
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q104: KMV approximate distinct — the oracle-checkable counterpart of
    * q24's HLL. Each customer key hashes to a 48-bit integer (md5 prefix);
    * [[graft.functions.KmvSketchAgg]] keeps the 64 smallest distinct
    * hashes per group in one pass (no upstream DISTINCT shuffle — dedup
    * lives inside the mergeable sketch, ≤ 64 longs of state per group),
    * and the estimator `(k-1)·2⁴⁸ div h_k` (exact when the sketch never
    * filled) is pure integer arithmetic, so DuckDB replays the sketch
    * value-for-value — an approximate aggregate with a bit-exact oracle.
    */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val k = 64
    // n_exact needs a distinct by (priority, custkey) either way, but
    // spelled as countDistinct NEXT TO the sketch udaf, Spark's
    // distinct-aggregate rewrite keyed the PARTIAL aggregate by custkey —
    // one boxed KMV Seq buffer per customer through three
    // ObjectHashAggregate passes. Deduping explicitly first keeps that
    // stage a codegen HashAggregate and runs the sketch once per DISTINCT
    // key at the 5-group level. h is a pure function of o_custkey and the
    // sketch dedups internally, so the result is bit-identical
    // (AggregationsSpec pins it against the old spelling); the shuffle
    // mass (one row per distinct pair, then <= k longs per group) is
    // unchanged.
    val dedup = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_custkey")).distinct()
    val hashed = dedup.select(
      col("o_orderpriority"),
      col("o_custkey"),
      Digest.bucket(Digest.salted("kmv-", col("o_custkey")), 1, 12).as("h"))
    hashed.groupBy(col("o_orderpriority"))
      .agg(
        count(col("o_custkey")).as("n_exact"),
        graft.functions.BottomK.kmv(k)(col("h")).as("sketch"))
      .select(
        col("o_orderpriority"),
        col("n_exact"),
        when(size(col("sketch")) < k, size(col("sketch")).cast(LongType))
          .otherwise(expr(
            s"(${k - 1} * 281474976710656L) div greatest(element_at(sketch, $k), 1L)"))
          .as("n_est"))
      .orderBy(col("o_orderpriority"))
  }

  private val q104Sql = {
    val hex12 = Exact.sqlHexToLong("md5('kmv-' || o_custkey)", 1, 12)
    s"""WITH h AS (
       |  SELECT DISTINCT o_orderpriority, CAST($hex12 AS BIGINT) AS h FROM orders),
       |r AS (
       |  SELECT o_orderpriority, h,
       |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
       |  FROM h),
       |est AS (
       |  SELECT o_orderpriority,
       |    CASE WHEN MAX(cnt) < 64 THEN CAST(MAX(cnt) AS BIGINT)
       |         ELSE (63 * 281474976710656) //
       |              GREATEST(MAX(CASE WHEN rn = 64 THEN h END), 1) END AS n_est
       |  FROM r GROUP BY o_orderpriority),
       |ex AS (
       |  SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
       |  FROM orders GROUP BY o_orderpriority)
       |SELECT ex.o_orderpriority, ex.n_exact, est.n_est
       |FROM ex JOIN est USING (o_orderpriority)
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** q248: deterministic MERGEABLE HLL — the oracled twin that graduates
    * q24's family (r9 verdict #8): the dense 2^p integer-register
    * HyperLogLog spelling (Flajolet et al. 2007) built from SQL-visible
    * primitives so DuckDB replays the whole sketch bit-for-bit. Each
    * customer key hashes to 48 bits (the q104 md5-prefix convention);
    * the low 6 bits pick one of m=64 registers, the remaining 42 bits
    * contribute rank = leading-zero-count + 1; a register is
    * max(rank) — max IS the merge, so per-priority sketches combine
    * into the 'ALL' row by a 64-row max-regroup without touching the
    * data again (the property q237 demonstrated for KMV). The raw HLL
    * estimator αm²/Σ2^(-reg) is evaluated in EXACT integer arithmetic:
    * each 2^(-reg) term is scaled to 2^(50-reg) (reg ≤ 43, sum ≤ 2^56 —
    * no overflow, no float), α·m²·2^50 is one precomputed Long literal
    * shared by both engines, and the estimate is a single integer
    * division. Exact counts ride along so the sketch error is measured.
    * (No small-range correction: every group here is ≫ 2.5m; the raw
    * estimator is the documented contract, like q104's unsaturated
    * collapse.)
    *
    * Scale: one pass to m·|groups| register rows (the shuffle key is
    * (group, bucket) — 64 rows per group regardless of input size),
    * then O(m) per estimate. This is the sketch a 100 TB estate stores
    * per shard and merges at query time; 64 registers here keeps the
    * spec readable, production uses 2^12–2^14 with the same plan.
    */
  private def q248(s: SparkSession, d: String): DataFrame = {
    val m = 64
    // α_64·m²·2^50 as one exact Long, interpolated into BOTH engines
    val alphaNum = math.round(0.7213 / (1 + 1.079 / m) * m * m * math.pow(2, 50))
    val hashed = Tables.orders(s, d).select(
      col("o_orderpriority").as("grp"),
      Digest.bucket(Digest.salted("hll-", col("o_custkey")), 1, 12).as("h"))
    val regs = hashed
      .select(col("grp"), (col("h") % m).as("bucket"), expr(s"h div $m").as("rem"))
      // 42-bit remainder: rank = 43 - bitlength(rem); rem = 0 → all 42
      // zero bits → rank 43 (bin(0) = "0" would undercount by one)
      .withColumn("rank",
        when(col("rem") === 0, lit(43)).otherwise(lit(43) - length(bin(col("rem")))))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
    val merged = regs.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("ALL").as("grp"), col("bucket"), col("reg"))
    val est = regs.unionByName(merged)
      .groupBy(col("grp"))
      .agg((sum(expr("shiftleft(1L, 50 - reg)")) +
        (lit(m) - count(lit(1))) * lit(1L << 50)).as("s"))
      .select(col("grp"), expr(s"${alphaNum}L div s").as("hll_est"))
    val exact = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
      .unionByName(Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
        .select(lit("ALL").as("grp"), col("n_exact")))
    exact.join(est, Seq("grp"))
      .select(col("grp"), col("n_exact"), col("hll_est"))
      .orderBy(col("grp"))
  }

  private val q248Sql = {
    val m = 64
    val alphaNum = math.round(0.7213 / (1 + 1.079 / m) * m * m * math.pow(2, 50))
    val hex12 = Exact.sqlHexToLong("md5('hll-' || o_custkey)", 1, 12)
    s"""WITH h AS (
       |  SELECT o_orderpriority AS grp, CAST($hex12 AS BIGINT) AS h FROM orders),
       |b AS (SELECT grp, h % 64 AS bucket, h // 64 AS rem FROM h),
       |r AS (
       |  SELECT grp, bucket,
       |    MAX(CASE WHEN rem = 0 THEN 43 ELSE 43 - length(bin(rem)) END) AS reg
       |  FROM b GROUP BY 1, 2),
       |allr AS (
       |  SELECT * FROM r
       |  UNION ALL
       |  SELECT 'ALL' AS grp, bucket, MAX(reg) AS reg FROM r GROUP BY 2),
       |est AS (
       |  SELECT grp,
       |    CAST(SUM(1::BIGINT << (50 - reg)) AS BIGINT)
       |      + (64 - COUNT(*)) * (1::BIGINT << 50) AS s
       |  FROM allr GROUP BY 1),
       |ex AS (
       |  SELECT o_orderpriority AS grp,
       |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
       |  FROM orders GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
       |SELECT ex.grp, ex.n_exact,
       |  CAST($alphaNum // est.s AS BIGINT) AS hll_est
       |FROM ex JOIN est USING (grp)
       |ORDER BY grp""".stripMargin
  }

  /** q237: KMV sketch SET OPERATIONS — the algebra that makes a distinct
    * sketch useful beyond one count (Beyer et al., "On Synopses for
    * Distinct-Value Estimation Under Multiset Operations"): per-source
    * bottom-k token sketches (q104's [[graft.functions.BottomK]]
    * aggregator, same md5-prefix 48-bit hash convention) combine
    * PAIRWISE into |A∪B| and |A∩B| estimates without touching the data
    * again — union = the q104 estimator over the merged bottom-k,
    * intersection = ρ·union where ρ = the fraction of the merged
    * bottom-k present in BOTH input sketches. Deterministic hash → the
    * DuckDB oracle replays every estimate bit-for-bit; the exact
    * pairwise intersection rides along (q220's exact-vs-estimate
    * readout) so the sketch error is measured, not asserted. When the
    * merged sketch is unsaturated (< k) both estimates collapse to the
    * exact values, mirrored in both engines.
    *
    * Scale: one distinct-token shuffle + one partial-agg to |sources|
    * 64-element sketches; the pairwise combine is O(sources² · k) on
    * ≤20-row inputs — driver-free, broadcast-joined, constant in corpus
    * size. This is the shape a federated estate uses to answer "how much
    * do shards overlap" from per-shard synopses alone; only the exact
    * cross-check (deliberately included) rescans tokens.
    */
  private def q237(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val space = 281474976710656L // 2^48, the 12-hex-digit hash space
    // sketch domain: token BIGRAMS — this corpus's unigram vocabulary is
    // ~31 tokens, so unigram sketches never saturate k=64 and the
    // estimator path would go untested; bigrams give each source
    // hundreds of distinct values and real cross-source overlap
    val tok = Tables.documents(s, d)
      .withColumn("t", filter(split(col("text"), " "), x => length(x) > 0))
      .select(col("source"),
        explode(when(size(col("t")) >= 2, expr(
          "transform(sequence(1, size(t) - 1)," +
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .otherwise(expr("array()"))).as("w"))
      .distinct()
    val hashed = tok.select(col("source"),
      Digest.bucket(concat(lit("kmvset-"), col("w")), 1, 12).as("h"))
      .distinct()
    val sk = hashed.groupBy(col("source"))
      .agg(graft.functions.BottomK.kmv(k)(col("h")).as("sk"))
    val pairs = sk.as("a")
      .join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("a.sk").as("ska"),
        col("b.source").as("sb"), col("b.sk").as("skb"))
    val est = pairs
      .withColumn("mg", array_sort(array_distinct(concat(col("ska"), col("skb")))))
      .withColumn("msz", size(col("mg")))
      .withColumn("uk", slice(col("mg"), 1, k))
      .withColumn("union_est",
        when(col("msz") < k, col("msz").cast(LongType))
          .otherwise(expr(
            s"(${k - 1} * ${space}L) div greatest(element_at(uk, $k), 1L)")))
      .withColumn("matches", size(filter(col("uk"),
        x => array_contains(col("ska"), x) && array_contains(col("skb"), x)))
        .cast(LongType))
      .withColumn("inter_est",
        when(col("msz") < k, col("matches"))
          .otherwise(expr(s"(matches * union_est) div $k")))
    val exact = tok.as("x").join(tok.as("y"),
        col("x.w") === col("y.w") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("n_inter_exact"))
    est.join(exact, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"), col("union_est"), col("inter_est"),
        coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"))
      .orderBy(col("sa"), col("sb"))
  }

  private val q237Sql = {
    val hex12 = Exact.sqlHexToLong("md5('kmvset-' || w)", 1, 12)
    s"""WITH tok AS (
       |  SELECT DISTINCT source, w FROM (
       |    SELECT source,
       |      unnest(list_transform(range(1, len(t)),
       |        i -> t[i] || ' ' || t[i+1])) AS w
       |    FROM (SELECT source,
       |            list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
       |          FROM documents))),
       |h AS (SELECT DISTINCT source, CAST($hex12 AS BIGINT) AS h FROM tok),
       |rk AS (
       |  SELECT source, h,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM h),
       |sk AS (
       |  SELECT source, list(h ORDER BY h) AS sk
       |  FROM rk WHERE rn <= 64 GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS sa, a.sk AS ska, b.source AS sb, b.sk AS skb
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |m AS (
       |  SELECT sa, sb, ska, skb,
       |    list_sort(list_distinct(list_concat(ska, skb))) AS mg
       |  FROM pairs),
       |u AS (
       |  SELECT sa, sb, ska, skb, len(mg) AS msz, mg[1:64] AS uk FROM m),
       |e AS (
       |  SELECT sa, sb, msz,
       |    CASE WHEN msz < 64 THEN CAST(msz AS BIGINT)
       |         ELSE (63 * 281474976710656) // GREATEST(uk[64], 1) END AS union_est,
       |    CAST(len(list_filter(uk,
       |      x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT)
       |      AS matches
       |  FROM u),
       |ex AS (
       |  SELECT x.source AS sa, y.source AS sb,
       |    CAST(COUNT(*) AS BIGINT) AS n_inter_exact
       |  FROM tok x JOIN tok y ON x.w = y.w AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT e.sa, e.sb, e.union_est,
       |  CASE WHEN e.msz < 64 THEN e.matches
       |       ELSE (e.matches * e.union_est) // 64 END AS inter_est,
       |  COALESCE(ex.n_inter_exact, 0) AS n_inter_exact
       |FROM e LEFT JOIN ex ON e.sa = ex.sa AND e.sb = ex.sb
       |ORDER BY e.sa, e.sb""".stripMargin
  }

  /** q114: one-pass mergeable quantile estimate via an equi-width histogram
    * (bucket = floor(price / 100)): per-group bucket counts fold with
    * map-side partial aggregation — the state is O(value range / width),
    * independent of row count, and merging two histograms is adding
    * counts, so the sketch distributes like any sum. The p50/p90/p99
    * estimate (lower edge of the first bucket whose cumulative count
    * reaches ceil(q·n)) is deterministic integer arithmetic until one
    * final double multiply — hash-exact against the oracle, with error
    * bounded by the bucket width. The exact-quantile twin is q27/q88
    * (full sort per group); THIS shape is the one that survives 100 TB,
    * where a per-group sort of a hot group is the straggler.
    */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice") / 100.0).cast(LongType).as("bucket"))
      .groupBy(col("flag"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("flag")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = Window.partitionBy(col("flag"))
    def est(q: Double): Column =
      (min(when(col("cum") >= ceil(lit(q) * col("n")).cast(LongType), col("bucket")))
        * 100.0).as(s"p${(q * 100).toInt}_est")
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(n))
      .groupBy(col("flag"))
      .agg(est(0.5), est(0.9), est(0.99))
      .orderBy(col("flag"))
  }

  private val q114Sql =
    """WITH h AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS bucket, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, bucket, cnt,
      |    SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
      |    SUM(cnt) OVER (PARTITION BY flag) AS n
      |  FROM h)
      |SELECT flag,
      |  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT) THEN bucket END) * 100.0 AS DOUBLE) AS p50_est,
      |  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT) THEN bucket END) * 100.0 AS DOUBLE) AS p90_est,
      |  CAST(MIN(CASE WHEN cum >= CAST(CEIL(0.99 * n) AS BIGINT) THEN bucket END) * 100.0 AS DOUBLE) AS p99_est
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  /** q117: LISTAGG — the SQL-standard ordered string aggregation
    * (Spark 4's `listagg ... WITHIN GROUP (ORDER BY ...)`), suppliers per
    * nation. The WITHIN GROUP ordering makes the result deterministic
    * under any partitioning — without it a distributed string_agg
    * concatenates in partition-arrival order and can never hash-compare.
    * Per-group output is O(group members); keep it for dimension-sized
    * groups (here: suppliers per nation), not fact keys.
    */
  private def q117(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(
        expr("listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name)").as("names"),
        count(lit(1)).as("n"))
      .orderBy(col("nationkey"))

  private val q117Sql =
    """SELECT s_nationkey AS nationkey,
      |  string_agg(s_name, '|' ORDER BY s_name) AS names,
      |  COUNT(*) AS n
      |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin

  /** q118: exact distributed Pearson correlation + OLS slope from MERGEABLE
    * MOMENTS — one pass, no mean-centering second pass: per-group exact
    * decimal sums (n, Σx, Σy, Σxy, Σx², Σy²) fold with map-side partial
    * aggregation (decimal addition is associative → bit-identical at any
    * partitioning), then the statistics are assembled in one fixed-order
    * double computation. Built-in `corr()` streams doubles and is
    * partition-order-dependent — THIS spelling is how the engine gets a
    * hash-verifiable correlation at 1000 executors. The decimal→double
    * casts stay bit-exact because every scaled sum fits 2^53 at these
    * scales (quantity ≤ 50 scale 2, discount < 1 scale 4 — see
    * graft.Exact's cast rule).
    */
  private def q118(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 2))
    val y = col("l_discount").cast(DecimalType(9, 4))
    val m = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"), sum(y).cast(DoubleType).as("sy"),
        sum(x * y).cast(DoubleType).as("sxy"),
        sum(x * x).cast(DoubleType).as("sx2"),
        sum(y * y).cast(DoubleType).as("sy2"))
    m.select(col("flag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sx2") - col("sx") * col("sx"))
            * sqrt(col("n") * col("sy2") - col("sy") * col("sy")))).as("corr_qd"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sx2") - col("sx") * col("sx"))).as("slope"))
      .orderBy(col("flag"))
  }

  private val q118Sql =
    """WITH m AS (
      |  SELECT l_returnflag AS flag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(9,4)) * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sy2
      |  FROM lineitem GROUP BY 1)
      |SELECT flag, n,
      |  (n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS corr_qd,
      |  (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope
      |FROM m ORDER BY flag""".stripMargin

  /** q129: ordered-set aggregates — `percentile_cont` / `percentile_disc`
    * WITHIN GROUP, plus a deterministic mode (arg-max of per-status counts,
    * ties to the smallest status so no engine's hash order leaks in).
    * Interpolation parity holds bit-for-bit because both engines spell the
    * continuous percentile as lo + (hi − lo)·frac over the same sorted
    * doubles (pinned by the hash compare).
    *
    * Scale: percentile_cont is exact and therefore needs the per-group
    * sorted values — fine for bounded groups like the 5 priorities here;
    * unbounded cardinality belongs to q114's mergeable histogram sketch.
    */
  private def q129(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """WITH pct AS (
        |  SELECT o_orderpriority AS prio,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc
        |  FROM orders GROUP BY 1),
        |sc AS (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS st, COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |md AS (
        |  SELECT prio, st AS mode_status FROM (
        |    SELECT prio, st, ROW_NUMBER() OVER (
        |      PARTITION BY prio ORDER BY c DESC, st) AS rk FROM sc)
        |  WHERE rk = 1)
        |SELECT prio, p50, p90, p50_disc, mode_status
        |FROM pct JOIN md USING (prio) ORDER BY prio""".stripMargin)
  }

  private val q129Sql =
    """WITH pct AS (
      |  SELECT o_orderpriority AS prio,
      |    quantile_cont(o_totalprice, 0.5) AS p50,
      |    quantile_cont(o_totalprice, 0.9) AS p90,
      |    quantile_disc(o_totalprice, 0.5) AS p50_disc
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS st, COUNT(*) AS c
      |  FROM orders GROUP BY 1, 2),
      |md AS (
      |  SELECT prio, st AS mode_status FROM (
      |    SELECT prio, st, ROW_NUMBER() OVER (
      |      PARTITION BY prio ORDER BY c DESC, st) AS rk FROM sc)
      |  WHERE rk = 1)
      |SELECT prio, p50, p90, p50_disc, mode_status
      |FROM pct JOIN md USING (prio) ORDER BY prio""".stripMargin

  /** q134: exact distinct via bitmap aggregation — user ids map to
    * (bucket, bit) positions, each (type, bucket) group folds to one RLE
    * bitmap with `bitmap_construct_agg`, and the distinct count is the sum
    * of `bitmap_count` over buckets. The scale story vs COUNT(DISTINCT):
    * the shuffle carries fixed-size bucket bitmaps instead of every raw
    * id, the bitmaps merge associatively (partial agg works), and rollups
    * across dimensions reuse the same bitmaps via bitmap_or_agg instead
    * of re-scanning. The oracle is plain COUNT(DISTINCT).
    */
  private def q134(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))")
        .as("n_in_bucket"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_in_bucket")).as("n_users"))
      .orderBy(col("event_type"))

  private val q134Sql =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q168: percent-of-total (ratio_to_report) — each order priority's
    * exact-cents revenue as a share of the grand total, the share taken
    * with an unpartitioned window over the 5 POST-AGGREGATION rows (the
    * one place a global window is free). Integer sums stay exact; the one
    * double division at the end is IEEE-identical in both engines.
    */
  private def q168(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .withColumn("share",
        col("cents").cast(DoubleType) /
          sum(col("cents")).over(Window.partitionBy()))
      .select(col("prio"), (col("cents").cast(DoubleType) / 100).as("revenue"),
        col("share"))
      .orderBy(col("prio"))
  }

  private val q168Sql =
    """WITH g AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT prio, CAST(cents AS DOUBLE) / 100 AS revenue,
      |  CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE) AS share
      |FROM g ORDER BY prio""".stripMargin

  /** q190: important parts — the TPC-H Q11 plan shape: a fine-grained
    * aggregate (per-part revenue cents) FILTERED by a scalar computed from
    * a SECOND aggregation of the same relation (parts holding more than
    * 0.06 % of total revenue). Distinct from q168's percent-of-total
    * window: here the global scalar is a separate 1-row aggregate that
    * BROADCASTS into the filter — the HAVING-above-global idiom — rather
    * than an unpartitioned window over the grouped rows.
    *
    * Exactness: revenue is q168's integer-cents spelling, so both the
    * per-part sums and the grand total are integers and the threshold is
    * the cross-multiplied `cents·10⁴ > total·6` — no float anywhere near
    * the decision boundary (DuckDB's SUM(BIGINT) widens to int128; the
    * int64 side holds to ~9e14 total cents ≈ SF 50k before the ·10⁴
    * product would need a DECIMAL(38,0) widening).
    *
    * Scale: the grand total is summed straight off the scan (cents are
    * associative integers, so Σ_part Σ_lines ≡ Σ_lines) — NOT as
    * `perPart.agg(...)`, which would make Catalyst duplicate the per-part
    * subtree and pay the part-keyed shuffle twice (PlanSpec pins the
    * single hashpartitioning exchange). The 1-row scalar then joins back
    * via broadcast so the per-part side never re-shuffles for the filter.
    */
  private def q190(s: SparkSession, d: String): DataFrame = {
    val perPart = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
    val total = Tables.lineitem(s, d)
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("t"))
    perPart.crossJoin(broadcast(total))
      .filter(col("cents") * lit(10000L) > col("t") * lit(6L))
      .select(col("partkey"),
        (col("cents").cast(DoubleType) / 100).as("part_value"))
      .orderBy(desc("part_value"), col("partkey"))
  }

  private val q190Sql =
    """WITH pp AS (
      |  SELECT l_partkey AS partkey,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT SUM(cents) AS t FROM pp)
      |SELECT partkey, CAST(cents AS DOUBLE) / 100 AS part_value
      |FROM pp, tot WHERE cents * 10000 > t * 6
      |ORDER BY part_value DESC, partkey""".stripMargin

  /** q192: small-order revenue loss — the TPC-H Q17 plan shape: a
    * correlated scalar AVG-subquery inside the WHERE against the SAME
    * fact ("lines whose quantity is under 20 % of that part's average"),
    * decorrelated into a per-part aggregate joined back on partkey. The
    * missing decision-support idiom next to q190's global-scalar HAVING:
    * here the scalar is PER GROUP, so it cannot broadcast as one row —
    * it must meet the probe on the group key.
    *
    * Exactness: `qty < 0.2·avg(qty)` is cross-multiplied to the integer
    * comparison `5·qty·cnt < sum(qty)` (quantities are integral), so no
    * float sits near the decision boundary; the output is one exact
    * decimal sum divided by 7.0 once.
    *
    * Scale: the brand/size part filter broadcasts as a semi-join into
    * BOTH legs (the avg over a kept part's lines is unchanged — the
    * filter is partkey-granular — and it shrinks the agg leg by the part
    * selectivity). Both legs then meet on ONE l_partkey partitioning:
    * the per-part agg's output partitioning IS the probe's join key, so
    * the fact shuffles once per leg and never again (PlanSpec pins the
    * exchange count). The avg subquery never re-executes per row — the
    * classic decorrelation a naive engine gets quadratically wrong.
    */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val keep = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#1" && col("p_size") <= 5)
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity").cast(LongType).as("qty"),
        col("l_extendedprice"))
      .join(broadcast(keep), col("l_partkey") === col("p_partkey"), "left_semi")
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qty")).as("sumq"), count(lit(1)).as("cnt"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("qty") * lit(5L) * col("cnt") < col("sumq"))
      .agg((sum(Exact.money(col("l_extendedprice"))).cast(DoubleType) / 7.0)
        .as("avg_yearly"))
  }

  private val q192Sql =
    """WITH keep AS (
      |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size <= 5),
      |li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, l_extendedprice
      |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM keep)),
      |pp AS (
      |  SELECT l_partkey AS pk, SUM(qty) AS sumq, COUNT(*) AS cnt
      |  FROM li GROUP BY 1)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |  AS avg_yearly
      |FROM li JOIN pp ON l_partkey = pk
      |WHERE qty * 5 * cnt < sumq""".stripMargin

  /** q193: concentrated suppliers — the TPC-H Q20 plan shape: a scalar
    * SUM-subquery per (part, supplier) pair compared against another
    * aggregate of the SAME fact at the same key ("suppliers who shipped
    * more than half of their all-time volume of a Brand#2 part during
    * 1995"), feeding a semi-joined name list. Where q192's scalar joins
    * back on the group key, here BOTH aggregates share one grouping, so
    * the decorrelation collapses the two subqueries into conditional
    * aggregation over a single (partkey, suppkey) exchange — the
    * strongest form of the rewrite (zero joins between the legs).
    *
    * Scale: one partial-agg shuffle on the pair key (integral quantities
    * sum exactly); the filtered pair list is a sliver that broadcasts
    * into the supplier name lookup. Nothing re-shuffles and no
    * subquery re-executes per row.
    */
  private def q193(s: SparkSession, d: String): DataFrame = {
    val keep = Tables.part(s, d).filter(col("p_brand") === "Brand#2")
      .select(col("p_partkey"))
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast(LongType).as("qty"),
        year(to_date(col("l_shipdate"))).as("shipyear"))
      .join(broadcast(keep), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(when(col("shipyear") === 1995, col("qty")).otherwise(lit(0L)))
          .as("q95"),
        sum(col("qty")).as("qall"))
      .filter(col("q95") * lit(2L) > col("qall"))
      .select(col("l_suppkey")).distinct()
    pairs.join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"))
      .orderBy(col("s_name"))
  }

  private val q193Sql =
    """WITH g AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1995
      |        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q95,
      |    SUM(CAST(l_quantity AS BIGINT)) AS qall
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2')
      |  GROUP BY 1, 2)
      |SELECT s_name FROM supplier
      |WHERE s_suppkey IN (SELECT l_suppkey FROM g WHERE 2 * q95 > qall)
      |ORDER BY s_name""".stripMargin

  /** q198: cheapest supplier per part — the TPC-H Q2 semantics: the
    * supplier(s) whose price equals that part's minimum, TIES KEPT as Q2
    * does (which is why q29's min_by — one payload, ties dropped — is
    * not this operator). Spelled as a rank-1 window rather than the
    * textbook min-subquery join-back: the decorrelated join-back puts
    * the DECIMAL price into the equi-join key, and Spark then shuffles
    * BOTH legs on (partkey, price) plus re-shuffles the dedup — four
    * exchanges where the window spelling needs ONE. The rank pass is
    * per-part (never a global window), and the (part, supplier) dedup
    * rides the window's partkey partitioning with no further exchange —
    * the plan the optimizer should converge to, written directly.
    *
    * Exactness: prices compare as DECIMAL(18,2), so "equals the min"
    * has no float-equality hazard in either engine.
    *
    * Scale: one l_partkey exchange for the window, zero shuffle joins on
    * the fact; supplier is a broadcast dim; the (part, name, price)
    * dedup rides the window's partkey partitioning (clustering-key
    * subset — no further exchange); top-100 is TakeOrderedAndProject.
    * Per-part row counts bound the window state (a sorted run per part,
    * O(1) carried rank).
    */
  private def q198(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        Exact.money(col("l_extendedprice")).as("price"))
    li.withColumn("rk", rank().over(
        Window.partitionBy(col("l_partkey")).orderBy(col("price"))))
      .filter(col("rk") === 1)
      .select(col("l_partkey"), col("l_suppkey"), col("price"))
      .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("s_name"),
        col("price").cast(DoubleType).as("min_price"))
      // dedup at the SAME grain as the oracle — (part, supplier NAME,
      // price), after the join: deduping on suppkey before it would emit
      // duplicates the oracle collapses whenever two suppkeys share an
      // s_name. Still no extra exchange: hashpartitioning(l_partkey)
      // satisfies the distinct's clustering (key subset).
      .distinct()
      .orderBy(col("l_partkey"), col("s_name"))
      .limit(100)
  }

  private val q198Sql =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price
      |  FROM lineitem),
      |mn AS (SELECT l_partkey AS pk, MIN(price) AS min_price
      |       FROM li GROUP BY 1)
      |SELECT DISTINCT l_partkey, s_name, CAST(min_price AS DOUBLE) AS min_price
      |FROM li
      |JOIN mn ON l_partkey = pk AND price = min_price
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY l_partkey, s_name LIMIT 100""".stripMargin

  /** q205: top revenue supplier — the TPC-H Q15 plan shape: a revenue
    * "view" (per-supplier decimal revenue over a ship-year), then the
    * suppliers whose revenue EQUALS the view's global max — ties kept,
    * as Q15 specifies. The global-scalar-equality sibling of q190's
    * global-threshold HAVING: here the scalar is an aggregate OF the
    * view itself, so the view's exchange must be built once and REUSED
    * by the max leg (PlanSpec pins the ReusedExchange), never computed
    * twice.
    *
    * Exactness: revenue sums as DECIMAL (money × (1 − rate)), and the
    * max-equality compares decimals — no float near the tie boundary.
    *
    * Scale: one l_suppkey exchange total; the 1-row max broadcasts back;
    * supplier is a broadcast dim. The view is supplier-count-sized, so
    * the max leg's second aggregation pass is a sliver.
    */
  private def q205(s: SparkSession, d: String): DataFrame = {
    import graft.Exact._
    // the join legs infer not-null filters the lone max leg wouldn't
    // carry; declaring them up front keeps both consumers' scan subtrees
    // byte-identical, so the view's exchange is built once and REUSED by
    // the max leg instead of re-scanning the fact
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .as("total_rev"))
      .filter(col("total_rev").isNotNull)
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.join(broadcast(mx), col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast(DoubleType).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val q205Sql =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** q206: parts-supplier census — the TPC-H Q16 plan shape: per
    * (brand, type, size) the number of DISTINCT suppliers able to ship
    * it, with a NOT-IN part filter and an anti-join exclusion list (the
    * negative-balance suppliers standing in for Q16's complaints
    * regex). The count-distinct-over-join rollup: the grain changes
    * twice (lineitem → pair → group), and both reductions must stay
    * partial-aggregated.
    *
    * Scale: both filters broadcast (dim sliver + 6-row exclusion list),
    * so the fact never shuffles until the distinct-pair reduction —
    * Spark plans count(DISTINCT) as a two-level aggregate: pairs
    * partial-dedup map-side, shuffle on the group key, final exact
    * count. Output is bounded by |brands|×|types|×|sizes|.
    */
  private def q206(s: SparkSession, d: String): DataFrame = {
    val keep = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val excluded = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(keep), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val q206Sql =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q212: late-shipment mode census — the TPC-H Q12 plan shape: a
    * fact-fact join with a cross-table lateness predicate (shipped more
    * than 90 days after ordering — this schema has no ship mode or
    * commit/receipt dates, so line status plays the mode and
    * ship-vs-order lateness plays the deadline), split into
    * critical/non-critical priority counts per class. The
    * conditional-aggregation-over-join idiom.
    *
    * Scale: one orderkey exchange per side; the lateness predicate is a
    * post-join residual (it spans both relations, so it cannot push
    * below the join — but it filters before the aggregate, which
    * partial-aggregates to 2 classes × 2 counters of reducer state.
    */
  private def q212(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        expr("count_if(o_orderpriority IN ('1-URGENT', '2-HIGH'))")
          .as("high_line_count"),
        expr("count_if(o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))")
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  private val q212Sql =
    """SELECT l_linestatus,
      |  CAST(COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                  THEN 1 END) AS BIGINT) AS high_line_count,
      |  CAST(COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                  THEN 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q213: promotion revenue share — the TPC-H Q14 plan shape: one
    * month of lines against the part type, the promo share as a ratio
    * of two conditional sums. Both sums stay exact DECIMAL through the
    * aggregate; the percentage is computed from the two finished
    * doubles in the same operation order in both engines, so even the
    * ratio is bit-identical.
    *
    * Scale: part broadcasts; the month filter prunes the fact scan
    * (pushed); the aggregate is 1 row — a map-side-combine scan job.
    */
  private def q213(s: SparkSession, d: String): DataFrame = {
    import graft.Exact._
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-03-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
            money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .otherwise(lit(0)))
          .cast(DoubleType).as("promo_revenue"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast(DoubleType).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_share"))
  }

  private val q213Sql =
    """WITH agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN p_type = 'PROMO'
      |             THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |                  * (1 - CAST(l_discount AS DECIMAL(9,4)))
      |             ELSE 0 END) AS DOUBLE) AS promo_revenue,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE)
      |      AS total_revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01')
      |SELECT promo_revenue, total_revenue,
      |  100.0 * promo_revenue / total_revenue AS promo_share
      |FROM agg""".stripMargin

  // --------------------------------------------------------------- q361

  /** The Bradley–Terry item domain: the five event types, alphabetical.
    * Fixed and literal so every float expression below is generated in
    * ONE order shared verbatim by the Spark plan and the DuckDB oracle —
    * no aggregation-order float sum exists anywhere in the algebra.
    */
  private val btTypes = Seq("click", "error", "purchase", "signup", "view")

  /** One minorization–maximization step of the Bradley–Terry MLE
    * (Hunter 2004): `r'_i = W_i / Σ_j g_ij / (r_i + r_j)` — emitted as a
    * dialect-neutral SQL fragment with a fixed literal term order.
    */
  private def btStep(i: String, prev: String): String = {
    val others = btTypes.filterNot(_ == i)
    val w = others.map(j => s"w_${i}_$j").mkString(" + ")
    val denom = others
      .map(j => s"g_${i}_$j / (${prev}_$i + ${prev}_$j)").mkString(" + ")
    s"CAST($w AS DOUBLE) / ($denom)"
  }

  /** q361: BRADLEY–TERRY RANKING FROM PAIRWISE WINS — the RLHF-eval step
    * after q343 assembles preference pairs: turn a matrix of pairwise
    * outcomes into a maximum-likelihood strength per candidate (Bradley
    * & Terry 1952; the MM iteration of Hunter 2004, five steps from
    * r = 1), here ranking the five event types by which wins the
    * per-user spend contest. Everything before the ratings is exact
    * (decimal spend totals, integer win counts); the MM iterations are
    * pure literal float expressions in one fixed term order generated
    * from the SAME template for both engines, so the ratings — and the
    * rank order they induce — hash-match bit for bit.
    *
    * Scale: one user-keyed partial aggregate (map-side combinable
    * pivoted spend), ONE global 20-counter aggregate for the win matrix
    * (constant state: the item domain is the matrix dimension, never
    * users), and the iterations run on a 1-row frame — at 10⁹ users the
    * only scaling cost is the first aggregate. Ranking 10⁵ candidates
    * instead moves the matrix to a (i, j)-keyed table and the iteration
    * to a join — same algebra, still no per-user state.
    */
  private def q361(s: SparkSession, d: String): DataFrame = {
    val uCols = btTypes.map { t =>
      coalesce(sum(when(col("event_type") === t, Exact.money(col("value")))),
        lit(0).cast(Exact.Money)).as(s"u_$t")
    }
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(uCols.head, uCols.tail: _*)
    val winCols = for (i <- btTypes; j <- btTypes if i != j)
      yield count(when(col(s"u_$i") > col(s"u_$j"), 1)).as(s"w_${i}_$j")
    var frame = perUser.agg(winCols.head, winCols.tail: _*)
    for (i <- btTypes; j <- btTypes if i != j)
      frame = frame.withColumn(s"g_${i}_$j",
        col(s"w_${i}_$j") + col(s"w_${j}_$i"))
    frame = frame.select(col("*") +: btTypes.map(t =>
      expr("CAST(1.0 AS DOUBLE)").as(s"r0_$t")): _*)
    for (k <- 1 to 5)
      frame = frame.select(col("*") +: btTypes.map(t =>
        expr(btStep(t, s"r${k - 1}")).as(s"r${k}_$t")): _*)
    val rows = btTypes.map { t =>
      val others = btTypes.filterNot(_ == t)
      frame.select(
        lit(t).as("event_type"),
        expr(others.map(j => s"w_${t}_$j").mkString(" + "))
          .cast(LongType).as("n_wins"),
        expr(others.map(j => s"g_${t}_$j").mkString(" + "))
          .cast(LongType).as("n_games"),
        col(s"r5_$t").as("rating"))
    }.reduce(_ unionByName _)
    rows
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("rating"), col("event_type"))).cast(LongType))
      .orderBy(col("rank"))
  }

  private val q361Sql = {
    val perUser = btTypes.map(t =>
      s"COALESCE(SUM(CASE WHEN event_type = '$t' " +
        s"THEN CAST(value AS DECIMAL(18,2)) END), 0) AS u_$t").mkString(",\n  ")
    val wins = (for (i <- btTypes; j <- btTypes if i != j)
      yield s"CAST(COUNT(CASE WHEN u_$i > u_$j THEN 1 END) AS BIGINT) " +
        s"AS w_${i}_$j").mkString(",\n  ")
    val g = (for (i <- btTypes; j <- btTypes if i != j)
      yield s"w_${i}_$j + w_${j}_$i AS g_${i}_$j").mkString(",\n  ")
    val r0 = btTypes.map(t => s"CAST(1.0 AS DOUBLE) AS r0_$t").mkString(", ")
    val its = (1 to 5).map { k =>
      val cols = btTypes
        .map(t => s"${btStep(t, s"r${k - 1}")} AS r${k}_$t").mkString(",\n  ")
      s"it$k AS (SELECT *,\n  $cols FROM it${k - 1})"
    }.mkString(",\n")
    val unpivot = btTypes.map { t =>
      val others = btTypes.filterNot(_ == t)
      s"SELECT '$t' AS event_type, " +
        s"CAST(${others.map(j => s"w_${t}_$j").mkString(" + ")} AS BIGINT) AS n_wins, " +
        s"CAST(${others.map(j => s"g_${t}_$j").mkString(" + ")} AS BIGINT) AS n_games, " +
        s"r5_$t AS rating FROM it5"
    }.mkString("\nUNION ALL\n")
    s"""WITH per_user AS (
       |  SELECT user_id,
       |  $perUser
       |  FROM events GROUP BY user_id),
       |wins AS (
       |  SELECT
       |  $wins
       |  FROM per_user),
       |gmat AS (
       |  SELECT *,
       |  $g
       |  FROM wins),
       |it0 AS (SELECT *, $r0 FROM gmat),
       |$its,
       |unp AS (
       |$unpivot)
       |SELECT event_type, n_wins, n_games, rating,
       |  CAST(ROW_NUMBER() OVER (ORDER BY rating DESC, event_type) AS BIGINT)
       |    AS rank
       |FROM unp ORDER BY rank""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q361_bradley_terry" -> q361,
    "q212_late_shipments" -> q212,
    "q213_promo_share" -> q213,
    "q205_top_supplier" -> q205,
    "q206_supplier_census" -> q206,
    "q198_min_cost_supplier" -> q198,
    "q192_avg_yearly" -> q192,
    "q193_concentrated_suppliers" -> q193,
    "q190_important_parts" -> q190,
    "q168_share_of_total" -> q168,
    "q104_kmv_distinct" -> q104,
    "q237_kmv_set_ops" -> q237,
    "q248_hll_registers" -> q248,
    "q129_ordered_set_agg" -> q129,
    "q134_bitmap_distinct" -> q134,
    "q114_histogram_quantiles" -> q114,
    "q117_listagg" -> q117,
    "q118_exact_corr" -> q118,
    "q27_stats_exact" -> q27,
    "q28_pivot" -> q28,
    "q29_minmax_by" -> q29,
    "q20_group_multi_agg" -> q20,
    "q21_rollup" -> q21,
    "q22_cube" -> q22,
    "q23_distinct" -> q23,
    "q24_approx_distinct" -> q24,
    "q25_collect_agg" -> q25,
    "q26_grouping_sets" -> q26
  )

  override def oracles: Map[String, String] = Map(
    "q361_bradley_terry" -> q361Sql,
    "q212_late_shipments" -> q212Sql,
    "q213_promo_share" -> q213Sql,
    "q205_top_supplier" -> q205Sql,
    "q206_supplier_census" -> q206Sql,
    "q198_min_cost_supplier" -> q198Sql,
    "q192_avg_yearly" -> q192Sql,
    "q193_concentrated_suppliers" -> q193Sql,
    "q129_ordered_set_agg" -> q129Sql,
    "q134_bitmap_distinct" -> q134Sql,
    "q190_important_parts" -> q190Sql,
    "q168_share_of_total" -> q168Sql,
    "q104_kmv_distinct" -> q104Sql,
    "q237_kmv_set_ops" -> q237Sql,
    "q248_hll_registers" -> q248Sql,
    "q114_histogram_quantiles" -> q114Sql,
    "q117_listagg" -> q117Sql,
    "q118_exact_corr" -> q118Sql,
    "q27_stats_exact" -> q27Sql,
    "q28_pivot" -> q28Sql,
    "q29_minmax_by" -> q29Sql,
    "q20_group_multi_agg" -> q20Sql,
    "q21_rollup" -> q21Sql,
    "q22_cube" -> q22Sql,
    "q23_distinct" -> q23Sql,
    "q25_collect_agg" -> q25Sql,
    "q26_grouping_sets" -> q26Sql
  )
}
