package graft.operators

import graft.{Exact, QueryModule, StagingDirs, Tables}
import graft.GraftSession.withConf
import graft.functions.Digest
import graft.sources.VersionedCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

/** Scale patterns as first-class, oracle-verified operators: the rewrites
  * an engine applies when a key is too hot or a partition too big. Each
  * query's RESULT is identical to the naive spelling (that's what the
  * oracle checks); the PLAN is the one that survives skew at 100 TB.
  */
object ScalePatterns extends QueryModule {

  /** Compaction target file size (q242/q245's one tunable, lifted out of
    * the plan per the r9 verdict). 1 MiB keeps the before/after file-count
    * contrast visible at test SFs; a production estate sets this to its
    * scan-efficient size (128 MiB–1 GiB) — the ⌈bytes/target⌉ sizing and
    * the rewrite plan are unchanged by the value.
    */
  val CompactionTargetBytes: Long = 1L << 20

  /** q46: salted two-stage aggregation — pre-aggregate on (key, salt) to
    * spread a hot key over 16 reducers, then merge partials per key.
    * Decimal sums are associative, so the result is bit-identical to the
    * single-stage plan the oracle runs; the shuffle on the hot key carries
    * 16 partial rows instead of every input row.
    */
  private def q46(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(Exact.money(col("l_quantity"))).as("part_qty"),
        count(lit(1)).as("part_n")
      )
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("part_qty")).cast("double").as("sum_qty"),
        sum(col("part_n")).as("n")
      )
      .orderBy(col("l_returnflag"))

  private val q46Sql =
    s"""SELECT l_returnflag, ${Exact.sqlSumMoney("l_quantity")} AS sum_qty,
       |  COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** q47: explicit repartition + sortWithinPartitions — the write-side
    * layout pattern (cluster output by key, keep each partition sorted for
    * downstream merge scans). The final total ORDER BY exists only for the
    * oracle compare; the layout work happens in the repartition stage.
    */
  private def q47(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .repartition(col("o_orderpriority"))
      .sortWithinPartitions(col("o_orderpriority"), col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
      .orderBy(col("o_orderpriority"))

  private val q47Sql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q48: stratified deterministic sampling — per-stratum rates from a
    * broadcast dim table, membership decided by an md5 hash bucket of the
    * row key. Seed-free and partitioning-independent (unlike
    * `sampleBy`/`TABLESAMPLE`), so the sample is reproducible on any
    * cluster size — the property corpus downsampling needs at 100 TB. One
    * broadcast join, one partial-agg shuffle of O(strata).
    */
  private def q48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rates = (0 until 20).map(i => (s"src$i", 5 * i + 5)).toDF("source", "rate")
    Tables.documents(s, d)
      .join(broadcast(rates), "source")
      .withColumn("bucket",
        Digest.bucket(Digest.salted("samp-", col("doc_id")), 1, 7) % 100)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("bucket") < col("rate"), 1)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val q48Sql = {
    val hex7 = Exact.sqlHexToLong("md5('samp-' || doc_id)", 1, 7)
    val dim = (0 until 20).map(i => s"('src$i', ${5 * i + 5})").mkString(", ")
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       |  CAST(COUNT(CASE WHEN CAST($hex7 AS BIGINT) % 100 < rate THEN 1 END) AS BIGINT) AS n_kept
       |FROM documents JOIN (VALUES $dim) AS rates(source, rate) USING (source)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q49: merge/upsert — apply a changeset (updates, deletes, inserts) to
    * a snapshot, the MERGE INTO shape a corrections/recrawl pipeline runs
    * without a table format. One full-outer join keyed on the primary key:
    * update rows override, delete tombstones drop, insert rows survive the
    * unmatched side. The changeset is derived deterministically from the
    * snapshot itself (op by key residue) so both engines build the same
    * delta; insert keys are offset by 1e8, above any snapshot key at the
    * tested scale factors. At 100 TB the delta side is tiny relative to
    * the snapshot but a full-outer join must co-shuffle both sides —
    * that single key-shuffle is the whole cost, and bucketing the
    * snapshot on the key removes even that.
    */
  private def q49(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val delta =
      base.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          lit("X").as("status"), (col("o_totalprice") * 2).as("price"))
      .unionByName(
        base.filter(col("o_orderkey") % 11 === 0)
          .select(col("o_orderkey").as("k"), lit("D").as("op"),
            lit(null).cast("string").as("status"), lit(null).cast("double").as("price")))
      .unionByName(
        base.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 100000000L).as("k"), lit("I").as("op"),
            lit("N").as("status"), col("o_totalprice").as("price")))
    base.join(delta, col("o_orderkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(
        coalesce(col("k"), col("o_orderkey")).as("o_orderkey"),
        coalesce(col("status"), col("o_orderstatus")).as("o_orderstatus"),
        coalesce(col("price"), col("o_totalprice")).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q49Sql =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |delta AS (
      |  SELECT o_orderkey AS k, 'U' AS op, 'X' AS status, o_totalprice * 2 AS price
      |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', NULL, NULL FROM base WHERE o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'I', 'N', o_totalprice
      |  FROM base WHERE o_orderkey % 13 = 0)
      |SELECT COALESCE(k, o_orderkey) AS o_orderkey,
      |       COALESCE(status, o_orderstatus) AS o_orderstatus,
      |       COALESCE(price, o_totalprice) AS o_totalprice
      |FROM base FULL OUTER JOIN delta ON o_orderkey = k
      |WHERE COALESCE(op, '') <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  /** q105: salted join — the join twin of q46's salted aggregation: the
    * fact side carries a deterministic 16-way salt on its join key, the
    * dimension is replicated across all 16 salt values, and the join key
    * becomes (key, salt) — a hot customer lands on 16 reducers instead of
    * one. The oracle runs the plain unsalted join: the rewrite must be
    * result-identical. (AQE's skew-join split performs this transform at
    * runtime from shuffle statistics; this query spells the manual rewrite
    * for engines/paths where AQE cannot see the skew and pins its
    * correctness.)
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val salts = s.range(0, 16).select(col("id").cast(IntegerType).as("salt"))
    val dim = Tables.customer(s, d).crossJoin(salts)
    val fact = Tables.orders(s, d)
      .withColumn("salt", pmod(col("o_orderkey"), lit(16)).cast(IntegerType))
    fact.join(dim,
        fact("o_custkey") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  private val q105Sql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q111: bloom-filter join pruning — the semi-join reduction a 100 TB
    * fact join lives on: build a bloom filter over the (filtered) dim
    * keys, pre-filter the fact on bloom MEMBERSHIP before the shuffle, then
    * run the exact equi-join on the survivors. False positives cost only
    * wasted shuffle rows; false negatives are impossible, so the RESULT is
    * identical to the plain join — exactly what the oracle checks.
    *
    * Build: each key sets k=3 bit positions `pmod(xxhash64(key, seed), m)`;
    * the distinct positions are collected (the collected volume IS the
    * filter — O(m) bits, never O(rows)) and folded into a word array.
    * Probe: pure built-ins — `element_at` on the word array inlined as a
    * literal (it constant-folds to one ArrayData, shipped inside the plan
    * like a broadcast) + shiftright/bit-and per hash. Everything stays in
    * whole-stage codegen; no UDF.
    *
    * m is capped at 2^16 bits (1024 inlined longs): past the cap the fpp
    * degrades gracefully (~0.24 at m/n≈3, still pruning ~3/4 of
    * non-matching rows) instead of the plan growing without bound — the
    * cap is the deployment knob; Spark's own runtime bloom filters size
    * the same way (creationSizeInBytes caps).
    */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val dimKeys = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"))
    val k = 3
    val nKeys = math.max(1L, dimKeys.count())
    // smallest power of two >= 16 * nKeys, clamped to [2^10, 2^16]
    val mBits = math.min(1L << 16, math.max(1L << 10,
      java.lang.Long.highestOneBit(16 * nKeys - 1) << 1))
    val nWords = (mBits / 64).toInt
    val words = new Array[Long](nWords)
    dimKeys.select(explode(array((0 until k).map(i =>
        pmod(xxhash64(col("o_orderkey"), lit(i)), lit(mBits))): _*)).as("pos"))
      .distinct()
      .collect()
      .foreach { r =>
        val pos = r.getLong(0)
        words((pos >> 6).toInt) |= 1L << (pos & 63)
      }
    val wordsArr = words.map(w => s"${w}L").mkString("array(", ", ", ")")
    val mightContain = (0 until k).map { i =>
      val h = s"pmod(xxhash64(l_orderkey, $i), ${mBits}L)"
      s"(element_at($wordsArr, CAST(($h) div 64 AS INT) + 1) & shiftleft(1L, CAST(($h) % 64 AS INT))) != 0L"
    }.mkString("(", ") AND (", ")")
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(expr(mightContain)) // bloom prune BEFORE the shuffle
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    fact.join(dim, col("l_orderkey") === col("o_orderkey")) // exact join on survivors
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private val q111Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q141: two-pass exact heavy hitters — all tokens occurring in more
    * than 1/200 of the corpus token stream, found WITHOUT a vocabulary-
    * sized shuffle. Pass 1 runs Misra–Gries with k=200 counters per
    * partition (map-only, O(k) state): any token with global frequency
    * > n/k must exceed its share n_p/k in at least one partition and MG
    * underestimates by at most n_p/k, so the union of per-partition
    * survivors is a SUPERSET of every true heavy hitter. Pass 2 re-scans
    * once, broadcast-semi-joins the ≤ k·P candidates, and counts exactly —
    * so the OUTPUT is exact (that is what the oracle checks) while the
    * shuffle carries at most |candidates| partial rows per partition
    * instead of per-vocabulary-term state. This decrement-all MG is O(k)
    * per eviction; a production build keeps the count-bucket linked list
    * for O(1), which changes nothing observable.
    */
  /** One Misra–Gries pass with `k` counters: emits the surviving keys.
    * Guarantee: any item occurring more than n/(k+1) times in the input
    * survives (each decrement wave consumes k+1 occurrences, so an item's
    * count is underestimated by at most n/(k+1)).
    */
  private[operators] def misraGries(k: Int)(it: Iterator[String]): Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counters.get(t) match {
        case Some(c) => counters(t) = c + 1
        case None if counters.size < k => counters(t) = 1L
        case None =>
          val dead = counters.iterator
            .collect { case (key, 1L) => key }.toList
          counters.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  private def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 200
    val toks = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0))
        .as("tok"))
    val candidates = toks.as[String].mapPartitions(misraGries(k))
      .toDF("tok").distinct()
    val total = toks.count()
    toks.join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * k > total)
      .orderBy(desc("n_occurrences"), col("tok"))
  }

  private val q141Sql =
    """WITH t AS (
      |  SELECT unnest(list_filter(string_split(text, ' '),
      |                            x -> length(x) > 0)) AS tok
      |  FROM documents)
      |SELECT tok, COUNT(*) AS n_occurrences
      |FROM t GROUP BY tok
      |HAVING COUNT(*) * 200 > (SELECT COUNT(*) FROM t)
      |ORDER BY n_occurrences DESC, tok""".stripMargin

  /** q144: binned interval join — shipments matched to every overlapping
    * promotion window (25 synthetic 90-day windows derived from brand-name
    * md5 offsets; the intervals are NOT keyed to the fact rows, so the
    * naive spelling is a cartesian `BETWEEN` theta join, which Spark plans
    * as BroadcastNestedLoopJoin — fine at 25 windows, dead at 10⁶). The
    * scale rewrite: quantize time into 64-day bins, explode each window
    * into the ≤3 bins it covers, equi-join fact-bin = window-bin, then
    * apply the exact containment as a residual filter. Result identical to
    * the naive join (the oracle runs it); the plan is a shuffled/broadcast
    * HASH join whose replication factor is bounded by
    * ceil(window/bin) + 1 ≈ 2.4 — the standard interval-join quantization
    * every range-join-capable engine applies.
    */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val epoch = to_date(lit("1995-01-01"))
    val windows = Tables.part(s, d).select(col("p_brand").as("brand")).distinct()
      .withColumn("off",
        (Digest.bucket(col("brand"), 1, 4) % 2000).cast("int"))
      .withColumn("wstart", date_add(epoch, col("off")))
      .withColumn("wend", date_add(col("wstart"), 90))
      .select(col("brand"), col("wstart"), col("wend"))
    val binned = windows
      .withColumn("bin", explode(sequence(
        (datediff(col("wstart"), epoch) / 64).cast("int"),
        (datediff(date_sub(col("wend"), 1), epoch) / 64).cast("int"))))
    val fact = Tables.lineitem(s, d)
      .select(to_date(col("l_shipdate")).as("ship_day"), col("l_extendedprice"))
      .withColumn("bin", (datediff(col("ship_day"), epoch) / 64).cast("int"))
    fact.join(broadcast(binned), Seq("bin"))
      .filter(col("ship_day") >= col("wstart") && col("ship_day") < col("wend"))
      .groupBy(col("brand"), col("wstart"), col("wend"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy(col("brand"))
  }

  private val q144Sql = {
    val off = s"(${Exact.sqlHexToLong("md5(brand)", 1, 4)}) % 2000"
    s"""WITH w AS (
       |  SELECT brand, DATE '1995-01-01' + CAST($off AS INT) AS wstart
       |  FROM (SELECT DISTINCT p_brand AS brand FROM part)),
       |w2 AS (SELECT brand, wstart, wstart + 90 AS wend FROM w)
       |SELECT w2.brand, w2.wstart, w2.wend, COUNT(*) AS n_items,
       |  ${Exact.sqlSumMoney("l.l_extendedprice")} AS revenue
       |FROM w2 JOIN lineitem l
       |  ON CAST(l.l_shipdate AS DATE) >= w2.wstart
       | AND CAST(l.l_shipdate AS DATE) < w2.wend
       |GROUP BY 1, 2, 3 ORDER BY w2.brand""".stripMargin
  }

  /** q156: deterministic weighted (PPS) sampling — one document selected
    * per `stride = Σw div 50` units of cumulative weight (systematic
    * size-proportional-to-weight sampling by n_chars), spelled with a
    * DISTRIBUTED prefix sum: range-partition by doc_id, per-partition
    * totals collected to the driver (one row per partition — bounded),
    * prefix offsets broadcast back, and the running sum windowed WITHIN
    * each partition. A single global-order window would serialize the
    * corpus through one task; this is the standard two-pass prefix-sum
    * that keeps it parallel. Selection depends only on the global
    * cumulative sum, so the output is partition-count-independent — the
    * oracle states the same semantics as one window.
    */
  private def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val parted = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("w"))
      .repartitionByRange(8, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pin partition ids for both consumers
    val partTotals = parted.groupBy(col("pid")).agg(sum(col("w")).as("pw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = partTotals.map(_._2).sum
    // floor at 1: total weight under 50 would make the stride 0 and the
    // `div` selection divide by zero on a degenerate corpus
    val stride = math.max(1L, total / 50)
    val offsets = partTotals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, pw)) => (pid, acc + pw) }
      .init.zip(partTotals)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val win = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    parted
      .join(broadcast(offsets.toSeq.toDF("pid", "off")), "pid")
      .withColumn("cum", col("off") + sum(col("w")).over(win))
      .filter(expr(s"cum div ${stride}L > (cum - w) div ${stride}L"))
      .select(col("doc_id"), col("w"), col("cum"))
      .orderBy(col("doc_id"))
  }

  private val q156Sql =
    """WITH t AS (
      |  SELECT doc_id, n_chars AS w,
      |    CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      |  FROM documents),
      |s AS (SELECT GREATEST(CAST(SUM(n_chars) AS BIGINT) // 50, 1) AS stride
      |      FROM documents)
      |SELECT doc_id, w, cum FROM t, s
      |WHERE cum // stride > (cum - w) // stride
      |ORDER BY doc_id""".stripMargin

  /** q172: materialized-view incremental refresh — the aggregate kept as
    * MERGEABLE PARTIALS (count + exact decimal sum per key): the base
    * partition (orders before the cutoff) and the newly-arrived delta fold
    * together by partial-merge, never recomputing from base data. The
    * oracle is the full one-shot aggregate, so the refresh algebra is
    * verified exact — decimal sums are associative, which is precisely
    * what makes count/sum/avg views incrementally refreshable at any
    * scale (subtract a retracted batch the same way).
    */
  private def q172(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"),
      to_date(col("o_orderdate")).as("day"),
      col("o_totalprice"))
    val cutoff = to_date(lit("1997-01-01"))
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("prio")).agg(
        count(lit(1)).as("n"),
        sum(Exact.money(col("o_totalprice"))).as("sdec"))
    partials(o.filter(col("day") < cutoff))
      .unionByName(partials(o.filter(col("day") >= cutoff)))
      .groupBy(col("prio"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("sdec")).cast("double").as("revenue"))
      .orderBy(col("prio"))
  }

  private val q172Sql =
    s"""SELECT o_orderpriority AS prio, COUNT(*) AS n_orders,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q173: join-cardinality estimation from key histograms — the self-join
    * blow-up on `l_partkey` predicted WITHOUT executing the join:
    * |L ⋈ L| = Σ_k cnt(k)², an identity computed from the tiny per-key
    * count relation. The oracle COUNTs the real join, so the "estimate"
    * verifies exact. Also reports the hottest key and the top-5 keys'
    * share — the skew diagnostic a planner (or a dedup pipeline sizing
    * its candidate join) reads before committing to a shuffle.
    */
  private def q173(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    // top-5 via TakeOrdered + a 1-row broadcast-back, NOT a global
    // row_number window: the histogram is distinct-key-sized (2e10 keys
    // at 100 TB), and ranking it serializes every key through one task
    // when only five rows matter. The two hist consumers share one
    // partkey exchange (the q205 reuse pattern).
    val top5 = hist.orderBy(desc("cnt"), col("l_partkey")).limit(5)
      .agg(sum(col("cnt") * col("cnt")).as("top5_rows"))
    hist.agg(
        sum(col("cnt") * col("cnt")).as("predicted_join_rows"),
        max(col("cnt")).as("hottest_key_cnt"))
      .crossJoin(broadcast(top5))
      .select(col("predicted_join_rows"), col("hottest_key_cnt"),
        expr("top5_rows * 1000000L div predicted_join_rows")
          .as("top5_share_ppm"))
  }

  private val q173Sql =
    """WITH h AS (
      |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey) AS rk
      |  FROM h),
      |agg AS (
      |  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS predicted,
      |    CAST(MAX(cnt) AS BIGINT) AS hottest,
      |    CAST(SUM(CASE WHEN rk <= 5 THEN cnt * cnt ELSE 0 END) AS BIGINT)
      |      AS top5
      |  FROM r),
      |actual AS (
      |  SELECT COUNT(*) AS n FROM lineitem a
      |  JOIN lineitem b ON a.l_partkey = b.l_partkey)
      |SELECT actual.n AS predicted_join_rows, agg.hottest AS hottest_key_cnt,
      |  (agg.top5 * 1000000) // agg.predicted AS top5_share_ppm
      |FROM agg, actual""".stripMargin

  /** Bit-interleave of two 8-bit values (Morton / Z-order curve), emitted
    * as the same 16-term arithmetic in both engines.
    */
  private def zExprTerms(a: String, b: String): String =
    (0 until 8).map { k =>
      s"(((($a) >> $k) & 1) << ${2 * k}) + (((($b) >> $k) & 1) << ${2 * k + 1})"
    }.mkString(" + ")

  /** q178: Z-order layout audit — lineitem keys mapped onto the Morton
    * curve over (l_partkey, l_suppkey), each dimension first normalized
    * to 8 bits from its OWN data bounds (so the curve fills its domain at
    * any scale factor), then grouped into 64 curve ranges; per range the
    * span of EACH normalized dimension is reported. The point of
    * Z-ordering made measurable: a curve range bounds BOTH dimensions at
    * once (≈⅛ of each domain per range, vs a 1-D sort where the second
    * key's span stays full-domain) — exactly why a file written in
    * z-order prunes on min/max stats for either predicate. The write-side
    * twin is `repartitionByRange(zval)` + sortWithinPartitions (q47's
    * layout machinery); this query audits the clustering property itself,
    * hash-exact (all integer arithmetic).
    */
  private def q178(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
    val bounds = li.agg(
      min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
      min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
    val norm = li.crossJoin(broadcast(bounds)).select(
      expr("((l_partkey - plo) * 256) div (phi - plo + 1)").as("pb"),
      expr("((l_suppkey - slo) * 256) div (shi - slo + 1)").as("sb"))
    norm.select(col("pb"), col("sb"), expr(zExprTerms("pb", "sb")).as("zval"))
      .groupBy(expr("zval div 1024").as("z_range")) // 2^16 / 64 ranges
      .agg(count(lit(1)).as("n_rows"),
        (max(col("pb")) - min(col("pb"))).as("part_span"),
        (max(col("sb")) - min(col("sb"))).as("supp_span"))
      .orderBy(col("z_range"))
  }

  private val q178Sql = {
    val z = zExprTerms("pb", "sb")
    s"""WITH b AS (
       |  SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
       |         MIN(l_suppkey) AS slo, MAX(l_suppkey) AS shi
       |  FROM lineitem),
       |n AS (
       |  SELECT ((l_partkey - plo) * 256) // (phi - plo + 1) AS pb,
       |         ((l_suppkey - slo) * 256) // (shi - slo + 1) AS sb
       |  FROM lineitem, b),
       |z AS (SELECT pb, sb, ($z) AS zval FROM n)
       |SELECT zval // 1024 AS z_range, COUNT(*) AS n_rows,
       |  MAX(pb) - MIN(pb) AS part_span,
       |  MAX(sb) - MIN(sb) AS supp_span
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q203: ORC round-trip — write the documents table as ORC, read it
    * back with a predicate, and aggregate; the oracle computes the same
    * rollup from the PARQUET original, so a hash match proves the
    * columnar round trip loses nothing (values, types, nulls) across
    * the second on-disk format Spark ships natively (S10's parquet
    * sibling — a 100 TB estate is rarely one format).
    *
    * Scale: the write is one map-side pass (no shuffle — file-per-task
    * layout); the read-back prunes to 3 columns and pushes the lang
    * predicate into the ORC reader exactly as parquet does (the scan's
    * pushed-filter line is the evidence), then partial-aggregates to
    * |langs| rows.
    */
  private def q203(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "orc", d)
    Tables.documents(s, d).write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("lang") =!= "zh")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  private val q203Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang <> 'zh'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q220

  /** q220: count-min sketch — the fixed-size MERGEABLE frequency summary
    * (Cormode & Muthukrishnan) next to q141's exact two-pass heavy
    * hitters: 4 hash rows × 512 buckets of integer counters built in ONE
    * partial-agg shuffle that reduces the whole corpus to ≤ 2048 rows,
    * regardless of corpus size. Each token increments one bucket per row
    * (seeded md5-derived bucket, the q69/q201 seed-free spelling);
    * estimate(w) = min over rows of its 4 counters — never under the
    * true count, over only on bucket collisions. The readout probes the
    * exact top-20 tokens and reports exact vs estimate vs overcount, so
    * the one-sided error guarantee is hash-verified, not asserted.
    *
    * Scale: this is the structure you keep when q141's candidate re-scan
    * is too expensive — the sketch is 2048 counters at 100 TB exactly as
    * at 60 k rows, merges by addition (partial agg IS the merge), and
    * the probe side joins a broadcast sketch map-side. Deliberately
    * deterministic (no random seeds) so the DuckDB oracle replays it
    * bit-for-bit.
    */
  private def q220(s: SparkSession, d: String): DataFrame = {
    // graft_cms (r15, guide §4): the 4 row buckets come from one native
    // md5 pass per token instead of the interpreted transform HOF that
    // built a hex string + substring + radix parse per (row, token)
    // (bit-identical buckets — TextKernelsSpec).
    val tok = Tables.documents(s, d)
      .select(explode(filter(split(col("text"), " "),
        t => length(t) > 0)).as("w"))
    val sketch = tok
      .select(posexplode(expr("graft_cms(w)")).as(Seq("r", "b")))
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
    val probes = tok.groupBy(col("w")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("w")).limit(20)
    probes
      .select(col("w"), col("exact_cnt"),
        posexplode(expr("graft_cms(w)")).as(Seq("r", "b")))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("w"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("w"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(desc("exact_cnt"), col("w"))
  }

  private val q220Sql = {
    val bucket = "(" + graft.Exact.sqlHexToLong(
      "md5('cms-' || CAST(r AS VARCHAR) || '-' || w)", 1, 7) + ") % 512"
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '),
       |                t -> length(t) > 0)) AS w
       |  FROM documents),
       |rs AS (SELECT unnest(range(0, 4)) AS r),
       |keys AS (SELECT w, r, $bucket AS b FROM tok CROSS JOIN rs),
       |sketch AS (
       |  SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM keys GROUP BY 1, 2),
       |exact AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt
       |  FROM tok GROUP BY 1),
       |probes AS (
       |  SELECT w, exact_cnt FROM exact
       |  ORDER BY exact_cnt DESC, w LIMIT 20),
       |pk AS (
       |  SELECT p.w, p.exact_cnt, rs.r, $bucket AS b
       |  FROM probes p CROSS JOIN rs)
       |SELECT pk.w, pk.exact_cnt, MIN(s.c) AS cms_est,
       |  MIN(s.c) - pk.exact_cnt AS overcount
       |FROM pk JOIN sketch s ON pk.r = s.r AND pk.b = s.b
       |GROUP BY pk.w, pk.exact_cnt
       |ORDER BY exact_cnt DESC, w""".stripMargin
  }

  // --------------------------------------------------------------- q242

  /** q242: SMALL-FILE COMPACTION — the maintenance pass every long-lived
    * estate runs: streaming/incremental landings leave thousands of tiny
    * part files, and at 100 TB the file COUNT (listing, footer reads,
    * task-launch overhead, NameNode/manifest pressure) costs more than
    * the bytes. The operator lands documents deliberately fragmented
    * (32 files), then compacts by TARGET FILE SIZE: total bytes are
    * measured from the fragmented layout's own file metadata (a
    * listing-only pass — no data read), the file count is derived as
    * ⌈bytes / target⌉, and one `repartition(n)` rewrite produces the
    * compacted layout. The re-read's rollup hash-matches the oracle on
    * the ORIGINAL table — compaction moved bytes, not values — and
    * `Round9Spec` pins the physical contract (file count collapses,
    * rows survive byte-identically).
    *
    * Scale: the rewrite is one round-robin shuffle of the fragment set;
    * nothing is driver-side except the ⌈bytes/target⌉ scalar. Real
    * estates add partition-boundary respect (compact WITHIN partitions:
    * q233's layout + one repartition per partition-value) — same plan,
    * keyed shuffle instead of round-robin.
    */
  private def q242(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "compact", d)
    StagingDirs.once(dir) {
      // the fragmented landing a micro-batched ingest leaves behind
      Tables.documents(s, d).repartition(32)
        .write.mode("overwrite").parquet(s"$dir/fragmented")
      // size the compaction from the layout's own metadata: listing-only
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/fragmented"))
      val bytes =
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => java.nio.file.Files.size(p)).sum
        finally ls.close()
      val nFiles = math.max(1L,
        (bytes + CompactionTargetBytes - 1) / CompactionTargetBytes).toInt
      Tables.parquet(s, s"$dir/fragmented").repartition(nFiles)
        .write.mode("overwrite").parquet(s"$dir/compacted")
    }
    Tables.parquet(s, s"$dir/compacted")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  private val q242Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q245

  /** q245: WITHIN-PARTITION compaction — q242's estate-maintenance pass
    * done the way a partitioned table needs it: the hive layout must
    * survive (downstream pruning depends on it), so fragments compact
    * INSIDE each partition value, never across. One repartition ON THE
    * PARTITION COLUMN does it: hash distribution sends every row of a
    * partition value to exactly one task, so the partitionBy write emits
    * exactly one file per partition directory (pinned by Round9Spec:
    * ~8 files per dir before, 1 after). The rollup over the compacted
    * layout hash-matches the unfragmented original.
    *
    * Scale: one keyed shuffle — with many more partition values than
    * tasks, each task carries several values and still writes one file
    * per value; a skewed partition value gets its task to itself. This
    * plus q233 is the maintenance loop a date-partitioned 100 TB fact
    * actually runs (compact yesterday's landing inside its date dir).
    */
  private def q245(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "pcompact", d)
    StagingDirs.once(dir) {
      // the fragmented partitioned landing an incremental ingest leaves
      Tables.orders(s, d).repartition(8)
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$dir/fragmented")
      Tables.parquet(s, s"$dir/fragmented")
        .repartition(col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$dir/compacted")
    }
    Tables.parquet(s, s"$dir/compacted")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  private val q245Sql =
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q240

  /** q240: FUZZY JOIN via deletion neighborhoods (FastSS, Bocek et al.) —
    * the scalable spelling of record linkage at edit distance ≤ 1: two
    * strings are within Levenshtein 1 iff their 1-deletion neighborhoods
    * (the string itself plus every single-character deletion) intersect,
    * so candidate generation is an EQUI-join on the variant key —
    * O(n·len) candidate rows — instead of the n² all-pairs comparison
    * the naive spelling needs. Candidates are then verified with the
    * exact `levenshtein` (computed only on the candidate sliver), and
    * the readout is the neighbor-count histogram over supplier names
    * (dense distance-1 structure in their numeric suffixes). The oracle
    * replays neighborhood, join, and verification — including DuckDB's
    * own `levenshtein` — so the equivalence of the two engines' edit
    * distances is part of the check.
    *
    * Scale: variants explode ×(len+1) but shuffle ONCE on the variant
    * key; the verification joins nothing back to the corpus. This is the
    * q144-binning idea applied to string space: quantize so the join has
    * an equi key, verify the residual exactly.
    */
  private def q240(s: SparkSession, d: String): DataFrame = {
    val variants = Tables.supplier(s, d)
      .select(col("s_suppkey").as("k"), col("s_name").as("n"),
        explode(expr(
          "array_union(array(s_name), transform(sequence(1, length(s_name))," +
            " i -> concat(substring(s_name, 1, i - 1)," +
            " substring(s_name, i + 1, length(s_name)))))")).as("v"))
    val cand = variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.k") < col("b.k"))
      .select(col("a.k").as("ka"), col("a.n").as("na"),
        col("b.k").as("kb"), col("b.n").as("nb"))
      .distinct()
    val pairs = cand.filter(levenshtein(col("na"), col("nb")) <= 1)
    // both endpoints via ONE explode, not a unionAll of two selects — a
    // union would duplicate the whole candidate-join subtree in the plan
    pairs.select(explode(array(col("ka"), col("kb"))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_neighbors"))
      .groupBy(col("n_neighbors")).agg(count(lit(1)).as("n_names"))
      .orderBy(col("n_neighbors"))
  }

  private val q240Sql =
    """WITH v AS (
      |  SELECT s_suppkey AS k, s_name AS n,
      |    unnest(list_distinct(list_concat([s_name],
      |      list_transform(range(1, length(s_name) + 1),
      |        i -> substring(s_name, 1, i - 1)
      |             || substring(s_name, i + 1, length(s_name)))))) AS v
      |  FROM supplier),
      |cand AS (
      |  SELECT DISTINCT a.k AS ka, a.n AS na, b.k AS kb, b.n AS nb
      |  FROM v a JOIN v b ON a.v = b.v AND a.k < b.k),
      |pairs AS (SELECT * FROM cand WHERE levenshtein(na, nb) <= 1),
      |pern AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_neighbors
      |  FROM (SELECT ka AS k FROM pairs UNION ALL SELECT kb FROM pairs)
      |  GROUP BY 1)
      |SELECT n_neighbors, CAST(COUNT(*) AS BIGINT) AS n_names
      |FROM pern GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q239

  /** q239: SCHEMA EVOLUTION across landed batches — the reality of any
    * multi-year 100 TB estate: early batches were written before a
    * column existed. Two parquet batches land with different (compatible)
    * schemas — v1 carries (o_orderkey, o_totalprice) for the even keys,
    * v2 adds `o_orderpriority` for the odd keys — and ONE
    * `mergeSchema=true` read unions the footers: v1 rows surface the
    * added column as NULL, which the rollup folds to a
    * '(pre-evolution)' bucket. The oracle replays the evolution from the
    * unsplit original, so the hash match proves no value, type, or row
    * was harmed by reading across schema versions.
    *
    * Scale: mergeSchema reconciles FOOTERS (per-file metadata, not
    * data); column pruning and filter pushdown still apply per batch.
    * The landing is once per (session, dataset), the q203/q233
    * discipline.
    */
  private def q239(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "schevo", d)
    StagingDirs.once(dir) {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
        .as("prio"))
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("prio"))
  }

  private val q239Sql =
    s"""SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
       |                '(pre-evolution)') AS prio,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  ${Exact.sqlSumMoney("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q235

  /** q235: Avro round trip — the remaining mainstream row format after
    * parquet (everywhere), ORC (q203) and JSON/CSV (q60–q65). This
    * classpath ships Spark WITHOUT the separate spark-avro connector
    * module, so the round trip goes through the Avro container-file API
    * (`org.apache.avro`, which Spark itself depends on) with the
    * engine's own partition-parallel plumbing: the WRITE is one
    * container file per partition inside `mapPartitions` (file-per-task,
    * the layout Spark's sinks produce; null codec for determinism),
    * landed once per (session, dataset) like q203's ORC dir; the READ
    * lands the files through the `binaryFile` source (one task per
    * file, `pathGlobFilter` pruning at listing) and decodes
    * GenericRecords back to rows. The per-language rollup over the
    * DECODED rows must hash-match the parquet original — values, types
    * and ids survive the format change, including the long/string/null
    * mapping through Avro's union type.
    *
    * Scale: write is map-side only (no shuffle, one file per task);
    * read parallelism is file-count (at 100 TB the landing would be
    * thousands of container files, one task each); the rollup is a
    * partial agg to |langs| rows. The 8-row count collect on the landing
    * pass is bounded by the partition count, same as q195's fixtures.
    * NOTE the deployment assumption (same as ArticlesWriter): tasks
    * write the container files via `java.io` into a driver-visible
    * tmpdir, so driver and executors must share one filesystem (local
    * mode, or a shared mount). A multi-node deployment would open the
    * same per-task files through the Hadoop `FileSystem` API instead —
    * the file-per-task layout and binaryFile re-read carry over
    * unchanged; only the output-stream primitive is single-node here.
    */
  private def q235(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = StagingDirs.dir(s, "avro", d)
    val schemaJson =
      """{"type":"record","name":"Doc","fields":[
        |{"name":"doc_id","type":"long"},
        |{"name":"lang","type":["null","string"],"default":null},
        |{"name":"n_chars","type":"long"}]}""".stripMargin
    StagingDirs.once(dir) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val counts = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(8, col("doc_id"))
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
            val dfw = new org.apache.avro.file.DataFileWriter(
              new org.apache.avro.generic.GenericDatumWriter[
                org.apache.avro.generic.GenericRecord](schema))
            val pid = org.apache.spark.TaskContext.getPartitionId()
            dfw.create(schema, new java.io.File(dir, f"part-$pid%05d.avro"))
            var n = 0L
            it.foreach { r =>
              val rec = new org.apache.avro.generic.GenericData.Record(schema)
              rec.put("doc_id", r.getLong(0))
              rec.put("lang", if (r.isNullAt(1)) null else r.getString(1))
              rec.put("n_chars", r.getLong(2))
              dfw.append(rec)
              n += 1
            }
            dfw.close()
            Iterator(n)
          }
        }
      counts.collect() // bounded: ≤ 8 per-partition counts
    }
    val decoded = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(dir)
      .select(col("content"))
      .mapPartitions { it =>
        it.flatMap { row =>
          val in = new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0))
          val st = new org.apache.avro.file.DataFileStream(in,
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
          while (st.hasNext) {
            val r = st.next()
            out += ((r.get("doc_id").asInstanceOf[Long],
              Option(r.get("lang")).map(_.toString).orNull,
              r.get("n_chars").asInstanceOf[Long]))
          }
          st.close()
          out.iterator
        }
      }
      .toDF("doc_id", "lang", "n_chars")
    decoded
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  private val q235Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q233

  /** q233: DYNAMIC partition pruning end-to-end — the bread-and-butter
    * plan for a date-partitioned 100 TB fact (TPC-DS's
    * store_sales ⋈ date_dim[d_year = N] shape, the single most important
    * scan optimization Spark ships for partitioned layouts). The fact is
    * a hive-partitioned copy of lineitem laid out by ship month
    * (l_ship_ym = year·100 + month, ~80 directories over the generated 1995-2001 date
    * range), landed ONCE per (session, dataset) through [[graft.StagingDirs]]
    * exactly like q215's binary fixtures. The dim side is computed at
    * RUNTIME — the distinct order months of 1997's urgent orders — so no
    * static filter on the partition column exists anywhere in the query:
    * the only way the scan can avoid reading all ~84 partitions is
    * Catalyst's PartitionPruning rule inserting a `dynamicpruning#`
    * subquery into the scan's PartitionFilters and reusing the join's
    * broadcast as the filter source. `PlanSpec` pins exactly that (the
    * pin FAILS if DPP does not fire), and a second pin counts the files
    * the pruned scan actually touched (12 of ~80 months). The oracle
    * replays the star join on the unpartitioned original — identical
    * rows prove pruning changed the I/O, not the answer.
    *
    * Scale: at 1000 executors the unpruned scan reads 7 years of fact;
    * the DPP'd scan reads 12 months' directories — the dim broadcast
    * (≤12 rows) is the only extra cost. Revenue stays decimal-exact
    * ([[Exact.money]]/[[Exact.rate]]) and surfaces as double.
    */
  private def q233(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "dpp", d)
    // land the partitioned fact once per session+dataset: bench attempts
    // must measure the PRUNED SCAN, not re-landing the layout
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
      Tables.lineitem(s, d)
        .withColumn("l_ship_ym",
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long"))
        .write.mode("overwrite").partitionBy("l_ship_ym").parquet(dir)
    val fact = Tables.parquet(s, dir)
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1997)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("d_ym"))
      .distinct()
    // the broadcast hint is load-bearing at scale, not a micro-opt: DPP
    // only injects the dynamicpruning# subquery when the dim side
    // broadcasts (reuseBroadcastOnly), and the PLANNER can't see that
    // DISTINCT collapses the dim to ≤ #months rows — its size estimate
    // scales with orders, crosses the auto-broadcast threshold at ~sf10,
    // and the fact scan silently degrades to reading ALL partitions
    // (measured: monthsRead 83/83 at sf10 without the hint, 12/83 with
    // it — graft.MaintCheck). Declaring what the optimizer can't infer
    // is exactly the 100 TB posture.
    fact.join(broadcast(dim), col("l_ship_ym") === col("d_ym"))
      .groupBy(col("l_ship_ym").cast("long").as("ship_ym"))
      .agg(count(lit(1)).as("n_items"),
        sum(Exact.money(col("l_extendedprice")) *
          (lit(1) - Exact.rate(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("ship_ym"))
  }

  private val q233Sql =
    """WITH dim AS (
      |  SELECT DISTINCT year(o_orderdate) * 100 + month(o_orderdate) AS d_ym
      |  FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997)
      |SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_ym,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN dim ON year(l_shipdate) * 100 + month(l_shipdate) = d_ym
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q246

  /** q246: CATALOG statistics driving the optimizer — the session-catalog
    * entry point a real estate uses (r9 verdict #2; SURVEY §3.3's implied
    * analytical reader consumes a registered corpus, not ad-hoc paths).
    * The testdata lands once per (session, dataset) as managed tables via
    * `saveAsTable`, then `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`
    * puts rowCount + per-column ndv/min/max into the catalog. With CBO
    * on, the optimizer's FilterEstimation turns the one-week predicate
    * into a ~40-row estimate (range width / [min,max] span), which drops
    * the filtered orders side under the broadcast threshold — the join
    * plans as BroadcastHashJoin AT PLAN TIME, no AQE rescue needed.
    * Without ANALYZE the very same query under the very same confs
    * estimates the filter at the full 280 KB relation size and plans a
    * sort-merge join: the broadcast happens ONLY because ANALYZE ran.
    * PlanSpec pins both static plans; the threshold/CBO confs are scoped
    * to this query by [[graft.GraftSession.withConf]].
    *
    * Scale: this is the mechanism that picks broadcast vs shuffle for
    * 100 TB facts — at that size "measure then re-plan" (AQE) only helps
    * after the first shuffle is already laid out; catalog stats move the
    * decision to plan time. ANALYZE cost is one scan, amortized across
    * every subsequent query of the table.
    */
  /** Land the session-catalog database for `d` once per (session,
    * dataset): managed `orders`/`lineitem` tables + ANALYZE statistics
    * (q246), plus orderkey-bucketed twins for the co-located join
    * (q253). Returns the database name.
    */
  private[operators] def catalogDb(s: SparkSession, d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val db = s"graft_cat_$tag"
    val wh = StagingDirs.dir(s, "warehouse", tag)
    if (!s.catalog.databaseExists(db))
      s.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    if (!s.catalog.tableExists(s"$db.orders")) {
      // the catalog landing normalizes o_orderdate to DATE (the values
      // are day-granular): Spark's CBO FilterEstimation supports
      // DateType ranges but has NO case for the parquet file's
      // TIMESTAMP_NTZ (FilterEstimation.evaluateBinary MatchError on
      // TimestampNTZType, hit in the wild here) — normalizing at
      // registration time is what an estate's ingest does anyway
      Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("date"))
        .write.saveAsTable(s"$db.orders")
      Tables.lineitem(s, d).write.saveAsTable(s"$db.lineitem")
      Tables.part(s, d).write.saveAsTable(s"$db.part")
      s.sql(s"ANALYZE TABLE $db.orders COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderdate, o_orderkey")
      // join-key + predicate column stats: q258's cost-based join
      // reorder estimates join cardinalities from key ndv
      s.sql(s"ANALYZE TABLE $db.lineitem COMPUTE STATISTICS " +
        "FOR COLUMNS l_orderkey, l_partkey")
      s.sql(s"ANALYZE TABLE $db.part COMPUTE STATISTICS " +
        "FOR COLUMNS p_partkey, p_size")
    }
    if (!s.catalog.tableExists(s"$db.b_lineitem")) {
      // the bucketed twins: BOTH sides hash-distributed into the same 8
      // orderkey buckets at WRITE time, so every future orderkey join is
      // exchange-free on the join sides (q253). The repartition BEFORE
      // the write is load-bearing: it makes each bucket exactly ONE
      // file, which is the condition under which Spark trusts the
      // write-time sortBy — multi-file buckets lose outputOrdering and
      // the join re-SORTS both sides every query (measured 8.95× at the
      // sf1→sf10 decade before this; sort-free after)
      s.table(s"$db.orders")
        .repartition(8, col("o_orderkey")).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.b_orders")
      s.table(s"$db.lineitem")
        .repartition(8, col("l_orderkey")).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.b_lineitem")
    }
    db
  }

  private def q246(s: SparkSession, d: String): DataFrame = {
    val db = catalogDb(s, d)
    withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString) { s =>
      val o = s.table(s"$db.orders")
        .filter(col("o_orderdate") >= lit("1996-03-01").cast("date") &&
          col("o_orderdate") <= lit("1996-03-07").cast("date"))
      s.table(s"$db.lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_linestatus"))
    }
  }

  private val q246Sql =
    s"""SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS gross
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01'
       |  AND TIMESTAMP '1996-03-07'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q253

  /** q253: CO-LOCATED join via bucketing — the pre-partitioning strategy
    * for REPEATED fact⋈fact joins: both catalog tables are bucketed into
    * the same 8 orderkey buckets at write time ([[catalogDb]]), so the
    * join consumes each side's layout as its distribution and plans ZERO
    * exchanges on the join inputs — the only shuffle left is the final
    * groupBy. Broadcast is disabled in-scope so the plan must reason
    * about distribution; PlanSpec pins the exchange count. Promotes
    * BucketingSpec's spec-only evidence to an oracled operator.
    *
    * Scale: bucketing converts every future orderkey join of these
    * tables from two O(data) shuffles into zero — THE amortization for
    * a 100 TB fact that joins on the same key daily; the bucket count
    * scales with the estate (8 here; thousands on a cluster), the plan
    * is identical.
    */
  private def q253(s: SparkSession, d: String): DataFrame = {
    val db = catalogDb(s, d)
    // with one file per bucket (catalogDb's pre-write repartition) the
    // write-time sortBy is real ordering — outputOrdering lets the scan
    // REPORT it (off by default since SPARK-28632 because multi-file
    // buckets would need a planning-time listing check), which deletes
    // both SMJ Sorts: the join runs straight off the layout
    withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") { s =>
      s.table(s"$db.b_lineitem")
        .join(s.table(s"$db.b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("o_orderpriority"))
    }
  }

  private val q253Sql =
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS gross
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q254

  /** q254: METADATA-ONLY aggregation — MIN/MAX/COUNT answered from
    * parquet FOOTER statistics (`spark.sql.parquet.aggregatePushdown`):
    * the scan's PushedAggregation reads one stats struct per row group
    * and never materializes a data page — for a 100 TB estate, the
    * difference between "what's the key range of this table" costing a
    * full scan and costing a footer sweep. The confs are scoped as in
    * q246; PlanSpec pins PushedAggregation in the scan and the
    * row-group-stats ReadSchema.
    *
    * Scale: cost is O(#row groups), independent of row count — the
    * footer sweep parallelizes over files exactly like the data scan
    * would, just 10⁶× smaller. Pairs with q251: file skipping prunes by
    * stats, this ANSWERS by stats.
    */
  private def q254(s: SparkSession, d: String): DataFrame = {
    // footer-stats pushdown lives in the DSv2 ParquetScan only — route
    // parquet off the v1 list for this plan. Timestamp columns are
    // excluded by the pushdown rules (INT96/NTZ stats ambiguity), so
    // the query sticks to integer key stats: one unsupported column
    // would silently veto the whole pushdown.
    val v1 = s.conf.get("spark.sql.sources.useV1SourceList")
      .split(",").filterNot(_.trim == "parquet").mkString(",")
    withConf(s, "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> v1) { s =>
      Tables.lineitem(s, d)
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          min(col("l_partkey")).as("min_part"),
          max(col("l_partkey")).as("max_part"))
    }
  }

  private val q254Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
      |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part
      |FROM lineitem""".stripMargin

  // --------------------------------------------------------------- q247

  /** q247: SNAPSHOT-ISOLATED read over a versioned-manifest table
    * ([[graft.sources.VersionedManifest]], r9 verdict #3) — the estate's
    * answer to "what do readers see while q242/q245's rewrite is
    * running?". Three generations are staged once per session: v=1 (the
    * initial half-corpus load, committed), v=2 (the full-corpus rewrite,
    * committed), and v=3 (an IN-FLIGHT rewrite with doubled rows whose
    * data is fully landed but whose manifest never published). The read
    * path resolves the newest COMMITTED manifest at plan time, so it
    * must aggregate exactly v=2 — the oracle is the plain full-corpus
    * rollup with `snapshot_version = 2` riding along, which fails both
    * if the reader sees the stale v=1 (half the docs) or the uncommitted
    * v=3 (doubled counts). SnapshotSpec pins the isolation sequence
    * step-by-step, including that a reader planned BEFORE a commit keeps
    * its version after the commit lands.
    *
    * Scale: readers list O(#versions) one-byte manifests, never data
    * dirs; the commit is one atomic rename regardless of table size —
    * the Delta/Iceberg discipline with the log reduced to its essence.
    */
  private def q247(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "snap", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "full rewrite")
      // an in-flight rewrite: data landed, manifest NOT committed —
      // invisible to every reader until its atomic rename publishes
      docs.unionByName(docs).write.mode("overwrite").parquet(s"$dir/v=3")
    }
    val v = graft.sources.VersionedManifest.latestCommitted(s, dir).get
    graft.sources.VersionedManifest.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .withColumn("snapshot_version", lit(v))
      .orderBy(col("source"))
  }

  private val q247Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  CAST(2 AS BIGINT) AS snapshot_version
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q249

  /** q249: VACUUM — the reclaim half of the versioned-manifest loop:
    * q247 proved an uncommitted `v=K` landing is invisible to readers;
    * this pass deletes those orphans (a failed or abandoned rewrite's
    * disk) while provably never touching committed history — the
    * post-vacuum read still serves the newest committed version and the
    * rollup hash-matches the oracle, with the reclaimed orphan count
    * riding along as a column. The orphan is re-staged on every
    * invocation (a tiny doc_id<100 slice), so the pass is measurable and
    * its report deterministic across bench attempts.
    *
    * Scale: vacuum lists O(#versions) manifest names + one top-level dir
    * listing — never data files; each orphan dies in one recursive
    * delete. Real estates add a retention-age gate before the delete
    * (the hook is in [[graft.sources.VersionedManifest.vacuum]]'s
    * scaladoc); the reclaim logic is size-independent.
    */
  private def q249(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vac", d)
    val docs = Tables.documents(s, d)
    StagingDirs.once(dir) {
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "full rewrite")
    }
    // the abandoned rewrite this pass reclaims — re-created per run so
    // every attempt vacuums the same layout state
    docs.filter(col("doc_id") < 100)
      .write.mode("overwrite").parquet(s"$dir/v=3")
    val removed = graft.sources.VersionedManifest.vacuum(s, dir)
    val kept = graft.sources.VersionedManifest.committedVersions(s, dir)
    graft.sources.VersionedManifest.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("orphans_removed", lit(removed.size.toLong))
      .withColumn("versions_kept", lit(kept.size.toLong))
      .orderBy(col("source"))
  }

  private val q249Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(1 AS BIGINT) AS orphans_removed,
      |  CAST(2 AS BIGINT) AS versions_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q250

  /** q250: TIME TRAVEL — reading committed history by version number
    * (`readAt`), the audit/debug face of the versioned manifest: "what
    * did the table hold before the rewrite?" answered without restoring
    * anything. Version 1 (the even-doc_id half-load) and version 2 (the
    * full rewrite) are each rolled up under their version label in one
    * result; q249 guarantees vacuum never deletes either. Reading an
    * UNCOMMITTED version is refused at plan time (SnapshotSpec).
    *
    * Scale: resolving a version is one manifest existence check; the
    * cost profile of reading v=N is identical to reading the live table
    * at that size — history costs storage, not query shape.
    */
  private def q250(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "tt", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "full rewrite")
    }
    graft.sources.VersionedManifest.committedVersions(s, dir).map { v =>
      graft.sources.VersionedManifest.readAt(s, dir, v)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          max(col("doc_id")).as("max_doc"))
        .select(lit(v).as("version"), col("n_docs"), col("total_chars"),
          col("max_doc"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  private val q250Sql =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(n_chars) AS BIGINT), MAX(doc_id)
      |FROM documents
      |ORDER BY version""".stripMargin

  // --------------------------------------------------------------- q321

  /** q321: SQL TIME TRAVEL — q250's `readAt` reached the way a SQL user
    * reaches it: [[graft.sources.VersionedCatalog]] plugs the versioned
    * manifest into Spark's DSv2 time-travel grammar, so
    * `FROM <cat>.tables.tt VERSION AS OF 1` resolves through
    * `loadTable(ident, version)` to version 1's data directories and
    * delegates the scan to the stock parquet source (pushdown and
    * vectorization intact — the catalog decides WHICH dirs, never HOW to
    * read them). Both committed generations are rolled up by SQL alone;
    * an uncommitted version is an ANALYSIS-time refusal and
    * `TIMESTAMP AS OF` resolves against manifest commit times
    * (Round11Spec pins both). Reference analog: re-reading a prior
    * scrape session's landed `data/` corpus (SURVEY §3.3).
    *
    * Scale: identical to q250 — version resolution is one manifest
    * listing; the SQL front door adds zero data-path cost.
    */
  /** q321/q327's shared estate: the two-generation versioned table from
    * q250's layout, registered under a per-dataset VersionedCatalog
    * (catalog instances are cached BY NAME, so a second dataset in the
    * same session must register its own, not silently reuse the first
    * root). Returns the catalog name and its root; the table is
    * `<cat>.tables.tt`, its directory `<root>/tt`.
    */
  private def sqlTtCatalog(s: SparkSession, d: String): (String, String) = {
    val root = StagingDirs.dir(s, "sqltt", d)
    val dir = s"$root/tt"
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "full rewrite")
    }
    (VersionedCatalog.mount(s, "g321_" + d.replaceAll("[^A-Za-z0-9]", "_"), root), root)
  }

  private def q321(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = sqlTtCatalog(s, d)
    s.sql(
      s"""SELECT version, n_docs, total_chars, max_doc FROM (
         |  SELECT CAST(1 AS BIGINT) AS version,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |    MAX(doc_id) AS max_doc
         |  FROM $cat.tables.tt VERSION AS OF 1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(n_chars) AS BIGINT), MAX(doc_id)
         |  FROM $cat.tables.tt VERSION AS OF 2)
         |ORDER BY version""".stripMargin)
  }

  private val q321Sql = q250Sql

  // --------------------------------------------------------------- q327

  /** q327: DESCRIBE HISTORY by SQL — the versioned table's audit trail
    * (`VersionedManifest.describe`, q291's Scala surface) as a metadata
    * TABLE: `<cat>.tables.tt.history` (the Iceberg spelling) resolves
    * through the catalog to one (version, format, operation) row per
    * committed manifest, read driver-side at O(#versions) — the query a
    * compliance review or an incident rollback (q292) starts from,
    * needing no Scala. Commit timestamps are deliberately not columns
    * (run-to-run variance belongs to `TIMESTAMP AS OF`, not to a
    * hash-checked result).
    */
  private def q327(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = sqlTtCatalog(s, d)
    s.sql(s"SELECT version, format, operation FROM $cat.tables.tt.history " +
      "ORDER BY version")
  }

  private val q327Sql =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'parquet', 'initial load'),
      |  (CAST(2 AS BIGINT), 'parquet', 'full rewrite'))
      |  AS t(version, format, operation)
      |ORDER BY version""".stripMargin

  // --------------------------------------------------------------- q382

  /** q382: ATOMIC CTAS/RTAS — `CREATE [OR REPLACE] TABLE … AS SELECT`
    * through the [[graft.sources.VersionedCatalog]]'s new
    * `StagingTableCatalog` face: the SELECT's whole output stages under
    * a writer-unique dir, and ONE manifest rename publishes it
    * (`StagedVersionedTable`). The estate proves the property that
    * matters: CTAS lands v1, `CREATE OR REPLACE … AS SELECT` lands v2
    * re-addressing only its staged dir (v1 stays time-travelable —
    * REPLACE is a new-table contract, not an erase), and a THIRD replace
    * whose SELECT fails at runtime (an ANSI cast on real data) commits
    * NOTHING: Spark drives `abortStagedChanges`, the staging dir is
    * deleted, and the latest snapshot is still v2 byte-for-byte. The
    * rollup reads v1 by `VERSION AS OF` and v2 as the current table, and
    * pins the protocol as oracle columns: latest version 2, zero orphan
    * `d-rtas-*` staging dirs on disk.
    *
    * Scale: atomicity adds no data pass — staging IS the SELECT's own
    * parquet write; commit is one rename at any table size. This is the
    * "no half-replaced table" guarantee a nightly full-refresh job needs
    * before anyone dares point a serving estate at it (Iceberg RTAS /
    * Delta CREATE OR REPLACE semantics on this format).
    */
  private def rtasCatalog(s: SparkSession, d: String): (String, String) = {
    val root = StagingDirs.dir(s, "rtas", d)
    val cat = VersionedCatalog.mount(s, "g382_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val src = s"parquet.`$d/documents.parquet`"
      s.sql(s"CREATE TABLE $cat.tables.rt AS " +
        s"SELECT doc_id, source, n_chars FROM $src WHERE doc_id % 2 = 0")
      s.sql(s"CREATE OR REPLACE TABLE $cat.tables.rt AS " +
        s"SELECT doc_id, source, n_chars + 10 AS n_chars FROM $src")
      // a replace whose SELECT fails on real rows: ANSI CAST of a
      // non-numeric source string throws mid-write → abort, not commit
      val refused =
        try {
          s.sql(s"CREATE OR REPLACE TABLE $cat.tables.rt AS " +
            s"SELECT doc_id, CAST(source AS BIGINT) AS n_chars FROM $src")
          false
        } catch { case _: Throwable => true }
      require(refused, "failing RTAS must abort, not commit")
    }
    (cat, root)
  }

  private def q382(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cat, root) = rtasCatalog(s, d)
    val M = graft.sources.VersionedManifest
    val dir = s"$root/rt"
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    val addressed = (1L to latest)
      .flatMap(v => M.resolveDataDirs(s, dir, v))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val orphans = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString.split('/').last)
      .count(n => n.startsWith("d-rtas-") && !addressed.contains(n)).toLong
    val evidence = Seq((latest, orphans))
      .toDF("latest_version", "orphan_staging_dirs")
    s.sql(
      s"""SELECT v, source, n_docs, total_chars FROM (
         |  SELECT CAST(1 AS BIGINT) AS v, source,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM $cat.tables.rt VERSION AS OF 1 GROUP BY source
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), source, CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(n_chars) AS BIGINT)
         |  FROM $cat.tables.rt GROUP BY source)
         |""".stripMargin)
      .crossJoin(broadcast(evidence))
      .orderBy(col("v"), col("source"))
  }

  private val q382Sql =
    """SELECT v, source, n_docs, total_chars,
      |  CAST(2 AS BIGINT) AS latest_version,
      |  CAST(0 AS BIGINT) AS orphan_staging_dirs
      |FROM (
      |  SELECT CAST(1 AS BIGINT) AS v, source,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY source
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), source, CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(n_chars + 10) AS BIGINT)
      |  FROM documents GROUP BY source)
      |ORDER BY v, source""".stripMargin

  // --------------------------------------------------------------- q384

  /** q384: SQL DELETE on the versioned table — q256's copy-on-write
    * delete with no Scala in sight: `DELETE FROM <cat>.tables.dl WHERE
    * n_chars < 200` resolves through the new `SupportsDelete` face on
    * [[graft.sources.VersionedCatalog]]'s table, Spark hands the WHERE
    * down as V1 filters, and the manifest machinery rewrites ONLY the
    * dirs containing matching rows. The estate makes the selectivity
    * provable: v1 (an atomic CTAS, q382's face) holds only large docs,
    * v2 appends a small-doc dir — so the delete's matched files all live
    * in the appended dir, the CTAS dir must re-address BYTE-UNTOUCHED
    * into v3 (evidence: the v3∩v2 dir intersection), and the delete is a
    * new version with the full history time-travelable behind it.
    *
    * Scale: the WHERE travels to the scan that FINDS matching files
    * (predicate pushdown at discovery) and the rewrite pays O(affected
    * dirs + survivors) — a retention sweep on a 100 TB estate whose
    * expired rows cluster in old dirs rewrites those dirs, not the
    * table. Unsupported WHERE shapes refuse at analysis time
    * (`canDeleteWhere`), never delete wrong.
    */
  private def sqlDeleteCatalog(s: SparkSession, d: String): (String, String) = {
    val root = StagingDirs.dir(s, "sqldel", d)
    val cat = VersionedCatalog.mount(s, "g384_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val M = graft.sources.VersionedManifest
      val dir = s"$root/dl"
      val src = s"parquet.`$d/documents.parquet`"
      s.sql(s"CREATE TABLE $cat.tables.dl AS SELECT doc_id, source, " +
        s"n_chars FROM $src WHERE n_chars >= 200")
      Tables.documents(s, d).filter(col("n_chars") < 200)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2,
        (M.resolveDataDirs(s, dir, 1) :+ s"$dir/d-b")
          .map(p => s"data=$p").mkString("\n") + "\nappend small docs")
      s.sql(s"DELETE FROM $cat.tables.dl WHERE n_chars < 200")
      require(M.latestCommitted(s, dir).contains(3L),
        "SQL DELETE must publish version 3")
    }
    (cat, root)
  }

  private def q384(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cat, root) = sqlDeleteCatalog(s, d)
    val M = graft.sources.VersionedManifest
    val dir = s"$root/dl"
    val untouched = M.resolveDataDirs(s, dir, 3).toSet
      .intersect(M.resolveDataDirs(s, dir, 2).toSet)
    val deleted = M.readAt(s, dir, 2).count() - M.readAt(s, dir, 3).count()
    val evidence = Seq((3L, untouched.size.toLong, deleted))
      .toDF("latest_version", "n_untouched_dirs", "deleted_rows")
    s.sql(s"SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        s"FROM $cat.tables.dl GROUP BY source")
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q384Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  CAST(1 AS BIGINT) AS n_untouched_dirs,
      |  CAST((SELECT COUNT(*) FROM documents WHERE n_chars < 200)
      |    AS BIGINT) AS deleted_rows
      |FROM documents WHERE n_chars >= 200
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q332

  /** q332: SNAPSHOT DRIFT MONITOR — the distribution-shift check a
    * training estate runs between corpus refreshes, here between two
    * COMMITTED VERSIONS of the versioned table (q321's estate: v1 the
    * half-load, v2 the full rewrite): `n_chars` bucketed into 8 fixed
    * bins, each version's per-bucket share in exact ppm integers
    * (`n·10⁶ div total` — the PSI shape without the libm log, so the
    * report hash-checks), absolute delta, and a drift flag at the
    * 5000-ppm bar. Time travel makes the comparison reproducible
    * forever: both sides are immutable snapshots, not "current vs
    * yesterday's export".
    *
    * Scale: two scans (each one partial agg to ≤8 rows) + an 8-row
    * join — the report is O(bins) at any corpus size, and at 100 TB
    * each side's scan reads only the bucketed column.
    */
  private def q332(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = s"${sqlTtCatalog(s, d)._2}/tt" // stages the two-generation estate
    def shares(v: Long, ppmCol: String): DataFrame = {
      val b = VM.readAt(s, dir, v)
        .select(least(lit(7L), expr("CAST(n_chars AS BIGINT) div 256"))
          .as("bucket"))
      b.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("t"))))
        .select(col("bucket"), expr(s"n * 1000000 div t").as(ppmCol))
    }
    shares(1, "ppm_v1").join(shares(2, "ppm_v2"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ppm_v1", "ppm_v2"))
      .select(col("bucket"), col("ppm_v1"), col("ppm_v2"),
        abs(col("ppm_v1") - col("ppm_v2")).as("delta_ppm"))
      .withColumn("drifted",
        when(col("delta_ppm") > 5000L, 1L).otherwise(0L))
      .orderBy(col("bucket"))
  }

  private val q332Sql =
    """WITH b1 AS (
      |  SELECT LEAST(7, CAST(n_chars AS BIGINT) // 256) AS bucket
      |  FROM documents WHERE doc_id % 2 = 0),
      |b2 AS (
      |  SELECT LEAST(7, CAST(n_chars AS BIGINT) // 256) AS bucket
      |  FROM documents),
      |c1 AS (
      |  SELECT bucket, CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM b1)
      |    AS BIGINT) AS ppm_v1 FROM b1 GROUP BY bucket),
      |c2 AS (
      |  SELECT bucket, CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM b2)
      |    AS BIGINT) AS ppm_v2 FROM b2 GROUP BY bucket)
      |SELECT COALESCE(c1.bucket, c2.bucket) AS bucket,
      |  COALESCE(ppm_v1, 0) AS ppm_v1, COALESCE(ppm_v2, 0) AS ppm_v2,
      |  ABS(COALESCE(ppm_v1, 0) - COALESCE(ppm_v2, 0)) AS delta_ppm,
      |  CAST(CASE WHEN ABS(COALESCE(ppm_v1, 0) - COALESCE(ppm_v2, 0)) > 5000
      |    THEN 1 ELSE 0 END AS BIGINT) AS drifted
      |FROM c1 FULL OUTER JOIN c2 ON c1.bucket = c2.bucket
      |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q331

  /** q331: MULTI-TABLE SNAPSHOT BY SQL — q277's catalog-pinned
    * consistency reached the way an analyst reaches it: a
    * [[graft.sources.VersionedCatalog]] registered with `pinned=true`
    * resolves EVERY table through the one `_catalog/M` pin file
    * ([[graft.sources.SnapshotCatalog]]), so a SQL join between
    * `documents` and its derived `docstats` can never mix snapshot
    * generations — even though a NEWER table-level commit of documents
    * (the in-flight v3) already exists, it stays invisible until a
    * catalog pin references it. The query joins the fact rollup against
    * the pinned summary and emits the per-source check; the oracle
    * computes the pinned generation's slice directly, so a catalog that
    * leaked the in-flight version (or mixed generations) hash-mismatches
    * on counts. In pinned mode `VERSION AS OF m` addresses CATALOG
    * history — both tables travel together (Round11Spec).
    *
    * Scale: the pin adds ONE tiny file read to resolution; the data
    * path is unchanged. This is the cross-table transactional read
    * single-table formats lack.
    */
  private def q331(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, VersionedManifest => VM}
    val root = StagingDirs.dir(s, "sqlmt", d)
    StagingDirs.once(root) {
      val statsOf = (v: Long) => VM.readAt(s, s"$root/documents", v)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      Tables.documents(s, d)
        .write.mode("overwrite").parquet(s"$root/documents/v=1")
      VM.commit(s, s"$root/documents", 1, "initial load")
      statsOf(1).write.mode("overwrite").parquet(s"$root/docstats/v=1")
      VM.commit(s, s"$root/docstats", 1, "stats of documents v1")
      SnapshotCatalog.commit(s, root, 1,
        Map("documents" -> 1L, "docstats" -> 1L))
      VM.readAt(s, s"$root/documents", 1).filter(col("source") =!= "src3")
        .write.mode("overwrite").parquet(s"$root/documents/v=2")
      VM.commit(s, s"$root/documents", 2, "erase src3")
      statsOf(2).write.mode("overwrite").parquet(s"$root/docstats/v=2")
      VM.commit(s, s"$root/docstats", 2, "stats of documents v2")
      SnapshotCatalog.commit(s, root, 2,
        Map("documents" -> 2L, "docstats" -> 2L))
      // in-flight: a table-level commit no catalog pin references yet —
      // must stay invisible to every pinned reader
      VM.readAt(s, s"$root/documents", 2).filter(col("source") =!= "src5")
        .write.mode("overwrite").parquet(s"$root/documents/v=3")
      VM.commit(s, s"$root/documents", 3, "in-flight: erase src5")
    }
    val cat = VersionedCatalog.mount(s, "g331_" + d.replaceAll("[^A-Za-z0-9]", "_"), root,
      pinned = true)
    s.sql(
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
         |  CAST(MAX(s.n_docs) AS BIGINT) AS pinned_docs
         |FROM $cat.tables.documents d
         |JOIN $cat.tables.docstats s ON d.source = s.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin)
  }

  private val q331Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(COUNT(*) AS BIGINT) AS pinned_docs
      |FROM documents WHERE source <> 'src3'
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q330

  /** q330: ROLLBACK BY SQL — q292's pointer-flip restore as the stored
    * procedure an on-call engineer actually runs:
    * `CALL <cat>.sys.rollback('tt', 1)` commits one new manifest
    * re-addressing the good version's dirs (zero data movement, bad
    * version still time-travelable for forensics), and the follow-up
    * SELECT through the same catalog reads the restored state — the
    * whole incident response (history q327 → rollback → verify read) is
    * SQL end to end. The oracle computes the good version's slice
    * directly, so a rollback that copied, missed, or re-pointed wrong
    * hash-mismatches. Repeated invocations (bench attempts) each append
    * another pointer version — content-stable, history append-only.
    *
    * Scale: the restore is ONE manifest create regardless of table size
    * — the reason pointer-based formats undo a 100 TB mistake in
    * milliseconds.
    */
  private def q330(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val root = StagingDirs.dir(s, "sqlrb", d)
    val dir = s"$root/tt"
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "good load")
      docs.unionByName(docs)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      VM.commit(s, dir, 2, "bad rewrite (doubled rows)")
    }
    val cat = VersionedCatalog.mount(s, "g330_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    s.sql(s"CALL $cat.sys.rollback('tt', 1)").collect()
    s.sql(
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  MAX(doc_id) AS max_doc
         |FROM $cat.tables.tt
         |GROUP BY source ORDER BY source""".stripMargin)
  }

  private val q330Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 2 = 0
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q329

  /** q329: STATS-IN-MANIFEST data skipping — q251's side-car file-stats
    * idea folded INTO the versioned commit (Delta's stats-in-log,
    * Iceberg's per-file column stats): the range-laid-out landing's
    * per-file (min, max) doc_id rides the manifest BODY, so a selective
    * reader prunes files from the one manifest it already reads for
    * snapshot resolution — no footer opens, no side-car to drift, and
    * the stats are versioned WITH the data (a rewrite's new manifest
    * carries its own). The point-range rollup over the pruned read
    * hash-matches the plain-filter oracle (skipping never changes
    * semantics); Round11Spec pins that the pruned set is a strict
    * subset and that pruning an unstatted version REFUSES rather than
    * silently full-scanning.
    *
    * Scale: at 100 TB this is "read one manifest, open 1 of 10⁶ files"
    * — the stats pass is one partial agg at write time, amortized
    * against the write; the prune is O(#files) driver work on rows the
    * snapshot resolution already fetched.
    */
  private def q329(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vstats", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      val stats =
        graft.sources.VersionedManifest.fileStats(s, s"$dir/v=1", "doc_id")
      graft.sources.VersionedManifest.commit(s, dir, 1,
        ("range layout on doc_id" +: stats).mkString("\n"))
    }
    val (lo, hi) = (100L, 299L)
    val files = graft.sources.VersionedManifest.prunedFiles(s, dir, 1, lo, hi)
    Tables.parquet(s, files: _*)
      .filter(col("doc_id").between(lo, hi))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  private val q329Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q344

  /** q344: CLUSTERING REWRITE AS TABLE MAINTENANCE — the estate operation
    * that makes q329's stats-in-manifest skipping actually BITE: version 1
    * lands hash-distributed on `source` (every file spans the whole doc_id
    * domain, so its [min,max] admits ANY doc_id predicate — the stats
    * prune 0 of 16 files), then the maintenance pass rewrites the SAME
    * rows range-clustered on doc_id and publishes with `dataChange=false`
    * (same rows, new layout — subscribers skip it, q338's contract; time
    * travel to the unclustered version keeps working). The new manifest's
    * stats now prune the point-range probe to the surviving slice.
    * Round11Spec pins the measured improvement (16/16 admitted before,
    * strictly fewer after) and the rollup hash-matches the plain-filter
    * oracle — a rewrite that changed any row would fail on sums.
    *
    * Scale: this is Delta OPTIMIZE ZORDER / Iceberg rewrite_data_files
    * reduced to the essence — the rewrite streams the snapshot once
    * (O(live data), amortized maintenance), and every subsequent
    * selective reader pays O(matching files) instead of O(layout)
    * forever after. The decision input is q313's small-files/clustering
    * audit; the verification input is the pruning counter this query's
    * spec pins.
    */
  private def q344(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vcluster", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      // v1: hash layout on source — doc_id ranges interleave across files
      docs.repartition(16, col("source"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1,
        ("hash layout on source" +:
          graft.sources.VersionedManifest.fileStats(s, s"$dir/v=1", "doc_id"))
          .mkString("\n"))
      // v2: the maintenance rewrite — range-clustered, same rows
      graft.sources.VersionedManifest.readAt(s, dir, 1)
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/d-cluster-1")
      require(graft.sources.VersionedManifest.tryCommit(s, dir, 2,
        (Seq("data=d-cluster-1", "dataChange=false",
          "cluster rewrite: range on doc_id") ++
          graft.sources.VersionedManifest
            .fileStats(s, s"$dir/d-cluster-1", "doc_id")).mkString("\n")),
        "cluster rewrite commit lost a race")
    }
    val (lo, hi) = (300L, 499L)
    val files = graft.sources.VersionedManifest.prunedFiles(s, dir, 2, lo, hi)
    Tables.parquet(s, files: _*)
      .filter(col("doc_id").between(lo, hi))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))
  }

  private val q344Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id BETWEEN 300 AND 499
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q339

  /** q339: RELEASE TAGS — the citable name of a training-corpus snapshot:
    * [[graft.sources.VersionedManifest.tag]] pins an IMMUTABLE `_refs/
    * <name>` → version pointer (Iceberg's tags reduced to the essence),
    * and `VERSION AS OF 'release-a'` resolves the name through the same
    * DSv2 time-travel grammar numeric ids use — so the dataset card
    * (q295), the reproduction run, and the eval holdout all address
    * `release-a` instead of "manifest 17, I think". Tags refuse to dangle
    * (uncommitted version), refuse to move (exclusive create — immutable
    * by construction), and an unknown tag is an analysis-time refusal
    * (Round11Spec pins all three). Two releases of the same corpus (raw,
    * then curated with a source dropped) roll up side by side from their
    * tags alone; the oracle replays both slices.
    *
    * Scale: a tag is one tiny file write at publish time and one read at
    * resolution — O(1) against any table size, like every pointer
    * operation in this format (q292/q330's discipline).
    */
  private def q339(s: SparkSession, d: String): DataFrame = {
    val root = StagingDirs.dir(s, "vtags", d)
    val dir = s"$root/corpus"
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
      docs.write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "raw corpus landed")
      graft.sources.VersionedManifest.tag(s, dir, "release-a", 1)
      docs.filter(col("source") =!= "src0")
        .write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "curated: src0 dropped")
      graft.sources.VersionedManifest.tag(s, dir, "release-b", 2)
    }
    val cat = VersionedCatalog.mount(s, "g339_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    s.sql(
      s"""SELECT release, n_docs, total_chars FROM (
         |  SELECT 'release-a' AS release, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM $cat.tables.corpus VERSION AS OF 'release-a'
         |  UNION ALL
         |  SELECT 'release-b', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(n_chars) AS BIGINT)
         |  FROM $cat.tables.corpus VERSION AS OF 'release-b')
         |ORDER BY release""".stripMargin)
  }

  private val q339Sql =
    """SELECT release, n_docs, total_chars FROM (
      |  SELECT 'release-a' AS release, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
      |  UNION ALL
      |  SELECT 'release-b', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(n_chars) AS BIGINT) FROM documents WHERE source <> 'src0')
      |ORDER BY release""".stripMargin

  // --------------------------------------------------------------- q335

  /** q335: BLOOM-IN-MANIFEST point-lookup skipping — the membership
    * question q329's range stats cannot answer: the corpus is laid out by
    * doc_id, so every file's [min,max] on that column admits a probe on
    * ANY OTHER column and range stats prune nothing. The commit body
    * therefore also carries a per-file bloom mask over `text`
    * ([[graft.sources.VersionedManifest.fileBlooms]], k=2 xxhash64
    * positions, 256 bits/file), and the incremental-ingest question —
    * "does this exact text already exist in the committed corpus, and
    * where?" — resolves from the ONE manifest snapshot resolution already
    * reads: files whose mask lacks a probe bit are provably clean and
    * never opened. The probe doc's text itself is fetched through the
    * range stats (one file), so the whole lookup composes both skipping
    * indexes. The dedup-hit rollup hash-matches the plain scalar-subquery
    * oracle — skipping can produce false-positive file opens, never a
    * wrong answer. Round11Spec pins the strict-subset file set and the
    * unbloomed-version refusal.
    *
    * Scale: at 100 TB this is the exact-dedup admission check without a
    * cluster — one manifest read + O(#files) driver-side bit tests +
    * openings of only the admitted files (expected ≈ 1 + #files·fp-rate;
    * 256 bits over ~30 distinct texts/file keeps fp ≈ (1-e^(-2·30/256))²
    * < 5%). The bloom build is one partial agg riding the write it
    * indexes, exactly like the stats pass.
    */
  private def q335(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vbloom", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      val stats =
        graft.sources.VersionedManifest.fileStats(s, s"$dir/v=1", "doc_id")
      val blooms =
        graft.sources.VersionedManifest.fileBlooms(s, s"$dir/v=1", "text")
      graft.sources.VersionedManifest.commit(s, dir, 1,
        ("range layout on doc_id, bloom on text" +: (stats ++ blooms))
          .mkString("\n"))
    }
    // probe text: doc 250's, fetched through the RANGE stats (one file,
    // one row — the bounded driver-side lookup a real ingest has in hand)
    val probeFile =
      graft.sources.VersionedManifest.prunedFiles(s, dir, 1, 250L, 250L)
    val probe = Tables.parquet(s, probeFile: _*)
      .filter(col("doc_id") === 250L).select(col("text")).head().getString(0)
    val files =
      graft.sources.VersionedManifest.bloomPrunedFiles(s, dir, 1, probe)
    Tables.parquet(s, files: _*)
      .filter(col("text") === lit(probe))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q335Sql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE text = (SELECT text FROM documents WHERE doc_id = 250)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q322

  /** q322: WRITE-AUDIT-PUBLISH gate — the commit-REFUSING composition of
    * q243's DQ audit with the versioned commit
    * ([[graft.sources.VersionedManifest.commitAudited]]): every batch
    * lands its data first, then the audit runs over the still-invisible
    * staged directory, and only a clean audit performs the manifest
    * rename. The poisoned batch here (negative `n_chars` rows smuggled
    * into a rewrite) is REFUSED — no manifest, readers keep the previous
    * snapshot, the bad directory is a vacuumable orphan — and the
    * corrected retry publishes as the next version. The rollup over the
    * final table carries the refusal evidence (`violations_refused`,
    * `versions_committed`) and hash-matches the clean-corpus oracle: a
    * gate that ever leaked the poisoned batch would fail on n_chars sums.
    *
    * Scale: the audit is ONE aggregate pass over the staged version
    * (columnar scan of the audited columns only), amortized against the
    * write that produced it; refusal costs zero reader-visible work —
    * this is Iceberg/Delta's WAP pattern with the branch reduced to the
    * staged-dir + manifest essence.
    */
  private def q322(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "wap", d)
    val audit: DataFrame => Seq[String] = df => {
      val r = df.agg(
        sum(when(col("n_chars") < 0, 1L).otherwise(0L)).as("neg_chars"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"))
        .head()
      Seq("n_chars < 0" -> r.getLong(0), "source IS NULL" -> r.getLong(1))
        .collect { case (rule, n) if n > 0 => s"$rule: $n rows" }
    }
    var refused = Seq("n_chars < 0: 5 rows") // the build's refusal, replayed
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      require(graft.sources.VersionedManifest
        .commitAudited(s, dir, 1, "initial load", audit).isEmpty)
      // the poisoned rewrite: data lands, audit refuses, manifest never
      // renames — version 2 stays an orphan
      docs.unionByName(
          docs.filter(col("doc_id") < 5).withColumn("n_chars", lit(-1)))
        .write.mode("overwrite").parquet(s"$dir/v=2")
      refused = graft.sources.VersionedManifest
        .commitAudited(s, dir, 2, "poisoned rewrite", audit)
      require(refused.nonEmpty, "the poisoned batch must be refused")
      // the corrected retry publishes as the NEXT version; the orphan
      // at v=2 stays invisible until vacuum reclaims it
      docs.write.mode("overwrite").parquet(s"$dir/v=3")
      require(graft.sources.VersionedManifest
        .commitAudited(s, dir, 3, "corrected rewrite", audit).isEmpty)
    }
    val committed =
      graft.sources.VersionedManifest.committedVersions(s, dir).size.toLong
    graft.sources.VersionedManifest.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("violations_refused", lit(refused.size.toLong))
      .withColumn("versions_committed", lit(committed))
      .orderBy(col("source"))
  }

  private val q322Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(1 AS BIGINT) AS violations_refused,
      |  CAST(2 AS BIGINT) AS versions_committed
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q260

  /** q260: AQE SKEW-JOIN splitting as a first-class operator — the
    * runtime backstop behind manual salting (q46/q105), promoted from
    * AqeSkewSpec's synthetic pin to an oracled query on the real tables:
    * lineitem joins a derived 3-row dimension on `l_returnflag`, the
    * hottest possible key distribution (every key is a third of the
    * fact), with broadcast disabled so the join genuinely shuffles and
    * the skew thresholds scoped to data scale (the defaults are sized
    * for production partitions — 256 MB advisory — exactly as the 100 TB
    * deployment would leave them). AQE observes the fat partitions at
    * runtime and SPLITS them across tasks (`skew=true` on the join,
    * pinned in Round10Spec); the rollup hash-matches the oracle, which
    * reduces the identity join away. Where q105 pre-salts because it
    * KNOWS the skew, this is the posture for skew you didn't predict.
    *
    * Scale: split granularity follows advisoryPartitionSizeInBytes, so
    * one hot key stops capping join parallelism at 1 task; no plan or
    * data change, just runtime re-planning from shuffle statistics.
    */
  private def q260(s: SparkSession, d: String): DataFrame = {
    withConf(s,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      // a real 100 TB fact arrives in thousands of input splits; at test
      // scale the single parquet file is ONE map task, and AQE can only
      // split a skewed reducer partition along MAPPER boundaries — the
      // repartition restores the many-mapper shape the feature needs
      val li = Tables.lineitem(s, d).repartition(8)
      // the dim materializes (3 rows) so its join child is a BARE shuffle
      // stage: OptimizeSkewedJoin can only split a skewed partition when
      // the matching other-side partition is re-readable shuffle output —
      // an Aggregate between Sort and stage blocks the rule
      val dim = li.select(col("l_returnflag").as("rf")).distinct()
        .withColumn("flag_label", concat(lit("flag_"), col("rf")))
        .localCheckpoint()
      li.join(dim, col("l_returnflag") === col("rf"))
        .groupBy(col("flag_label"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("flag_label"))
    }
  }

  private val q260Sql =
    s"""SELECT 'flag_' || l_returnflag AS flag_label,
       |  CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS gross
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q259

  /** q259: RUNTIME BLOOM-FILTER join pruning — the row-level sibling of
    * q233's partition-level DPP: a shuffle join whose build side is
    * selective (March-1996 orders) gets a bloom filter INJECTED by the
    * optimizer (`InjectRuntimeFilter`); the probe side evaluates
    * `might_contain(bloom_filter_agg(...))` against a scalar subquery
    * and drops ~99.7% of lineitem rows BEFORE the shuffle — the rows
    * never serialize, never hit the wire. Broadcast is disabled in-scope
    * (a broadcastable build side wouldn't need the bloom) and the
    * application-side size threshold is dropped to test scale (default
    * 10 GB — the feature is BUILT for the 100 TB case); Round10Spec pins
    * `bloom_filter_might_contain` reaching the probe-side scan filters.
    * The rollup hash-matches the plain oracle — the bloom only drops
    * rows the join would drop anyway (false positives just ride through
    * to the exact join).
    *
    * Scale: this is THE shuffle-volume lever for selective fact⋈fact
    * joins at 100 TB — the filter costs one O(build)-side aggregate and
    * a broadcast of ~1 MB of bits; the payoff is the probe side's
    * shuffle shrinking by the join selectivity.
    */
  private def q259(s: SparkSession, d: String): DataFrame = {
    withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") { s =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") <= lit("1996-03-07").cast("timestamp"))
      Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_linestatus"))
    }
  }

  // same result contract as q246 (the bloom is transparent to semantics)
  private val q259Sql = q246Sql

  // --------------------------------------------------------------- q258

  /** q258: COST-BASED JOIN REORDER — the other half of the CBO surface
    * q246 opened: a three-table star written in the WORST order (the two
    * facts joined first, the selective dimension last). With catalog
    * column stats on every join key and `cbo.joinReorder` on, the
    * optimizer's DP pass estimates |lineitem ⋈ part{p_size=1}| at ~2% of
    * |lineitem ⋈ orders| and REWRITES the tree to run the selective join
    * first — the written order stops mattering, which is the entire
    * promise of cost-based optimization. Round10Spec pins the optimized
    * join tree (innermost join = {lineitem, part} with CBO; the written
    * {lineitem, orders} without) by traversing the logical plan, not
    * string-matching. Confs scoped as in q246.
    *
    * Scale: at 100 TB the difference is an intermediate of terabytes vs
    * gigabytes feeding the second join — the one decision a human can't
    * keep making per query across thousands of queries; stats + reorder
    * make it the planner's job.
    */
  private def q258(s: SparkSession, d: String): DataFrame = {
    val db = catalogDb(s, d)
    withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") { s =>
      s.table(s"$db.lineitem")
        .join(s.table(s"$db.orders"),
          col("l_orderkey") === col("o_orderkey")) // facts first: worst order
        .join(s.table(s"$db.part").filter(col("p_size") === 1),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("p_brand"))
    }
  }

  private val q258Sql =
    s"""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSumMoney("l_extendedprice")} AS gross
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_size = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q257

  /** Stage q257's two competing physical layouts once per (session,
    * dataset): `zorder/` (range-laid-out on the 16-bit Morton value over
    * (l_partkey, l_suppkey), q178's curve written for real) and `keysort/`
    * (the 1-D control: same file count, range-laid-out on l_partkey
    * alone), each with a per-file (min,max)-of-BOTH-keys stats manifest
    * (q251's mechanism). Returns the staging root. Round10Spec uses the
    * control to measure the z-order claim comparatively.
    */
  private val zorderStatsDdl = "file STRING, plo BIGINT, phi BIGINT, slo BIGINT, shi BIGINT"
  private[operators] def zorderLayouts(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "zskip", d)
    StagingDirs.once(dir) {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val bounds = li.agg(
        min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
        min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
      val z = li.crossJoin(broadcast(bounds))
        .withColumn("pb", expr("((l_partkey - plo) * 256) div (phi - plo + 1)"))
        .withColumn("sb", expr("((l_suppkey - slo) * 256) div (shi - slo + 1)"))
        .withColumn("zval", expr(zExprTerms("pb", "sb")))
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
          col("zval"))
      z.repartitionByRange(32, col("zval")).sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite").parquet(s"$dir/zorder")
      li.repartitionByRange(32, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(s"$dir/keysort")
      Seq("zorder", "keysort").foreach { layout =>
        Tables.parquet(s, s"$dir/$layout")
          .groupBy(input_file_name().as("file"))
          .agg(min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
            min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
          .coalesce(1)
          .write.mode("overwrite").json(s"$dir/${layout}_stats")
      }
    }
    dir
  }

  /** q257: Z-ORDER + file skipping END TO END — the write-side twin q178
    * only audited: lineitem physically laid out along the Morton curve
    * over (l_partkey, l_suppkey) into 32 files, per-file min/max of BOTH
    * keys recorded in a q251-style stats manifest, and a 2-D box query
    * (the middle 1/16 of each key's domain, bounds derived from the data
    * by identical integer arithmetic in both engines) answered by reading
    * only the files whose stats intersect the box. Because the curve
    * bounds BOTH dimensions per file, the box prunes on both predicates —
    * a 1-D sort prunes on its sort key only (Round10Spec stages the
    * keysort control and pins the comparative file counts: the suppkey
    * box prunes the z layout but reads ALL of the 1-D layout). The rollup
    * hash-matches the oracle's plain filter.
    *
    * Scale: this is how a 100 TB fact serves selective 2-D queries
    * without an index — O(files) manifest rows, O(matching files) data
    * reads; the curve resolution (8 bits/dim) and file count scale
    * independently of row count.
    */
  private def q257(s: SparkSession, d: String): DataFrame = {
    val dir = zorderLayouts(s, d)
    // the box: middle sixteenth of each key domain, same integer
    // arithmetic as the oracle's scalar subqueries
    val b = Tables.lineitem(s, d).agg(
      min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
      min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
      .head() // bounded: one row of four longs
    val (plo, phi, slo, shi) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (pLo, pHi) = (plo + (phi - plo + 1) * 7 / 16, plo + (phi - plo + 1) * 8 / 16 - 1)
    val (sLo, sHi) = (slo + (shi - slo + 1) * 7 / 16, slo + (shi - slo + 1) * 8 / 16 - 1)
    val files = s.read.schema(zorderStatsDdl).json(s"$dir/zorder_stats")
      .filter(col("phi") >= pLo && col("plo") <= pHi &&
        col("shi") >= sLo && col("slo") <= sHi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    Tables.parquet(s, files: _*)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumMoney(col("l_extendedprice")).as("gross"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
  }

  private val q257Sql =
    """WITH b AS (
      |  SELECT MIN(l_partkey) AS plo, MAX(l_partkey) AS phi,
      |         MIN(l_suppkey) AS slo, MAX(l_suppkey) AS shi
      |  FROM lineitem),
      |box AS (
      |  SELECT plo + (phi - plo + 1) * 7 // 16 AS p_lo,
      |         plo + (phi - plo + 1) * 8 // 16 - 1 AS p_hi,
      |         slo + (shi - slo + 1) * 7 // 16 AS s_lo,
      |         slo + (shi - slo + 1) * 8 // 16 - 1 AS s_hi
      |  FROM b)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
      |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
      |FROM lineitem, box
      |WHERE l_partkey BETWEEN p_lo AND p_hi
      |  AND l_suppkey BETWEEN s_lo AND s_hi""".stripMargin

  // --------------------------------------------------------------- q255

  /** q255: VERSION DIFF — CDC out of the versioned table (Delta's "table
    * changes" read): what changed between committed v=1 (the even-doc_id
    * load) and v=2 (the full rewrite that also dropped every doc_id
    * ending in 4)? Rows are immutable under a key here, so the diff is
    * two key-level anti joins (added = in v2 not v1, removed = in v1 not
    * v2) — never a full-row compare — aggregated into a 2-row change
    * summary. Downstream consumers (an index refresh, a feature-store
    * sync) read this instead of re-scanning either snapshot.
    *
    * Scale: two doc_id-keyed anti joins, each one shuffle of the two
    * key columns; row payloads join back only for the aggregate's
    * n_chars. At 100 TB the diff cost is O(keys), not O(bytes).
    */
  private def q255(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vdiff", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.filter(col("doc_id") % 10 =!= 4)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "rewrite + purge")
    }
    val v1 = graft.sources.VersionedManifest.readAt(s, dir, 1)
    val v2 = graft.sources.VersionedManifest.readAt(s, dir, 2)
    val added = v2.join(v1.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(lit("added").as("change"), col("doc_id"), col("n_chars"))
    val removed = v1.join(v2.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(lit("removed").as("change"), col("doc_id"), col("n_chars"))
    added.unionByName(removed)
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("change"))
  }

  private val q255Sql =
    """SELECT 'added' AS change, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 != 4
      |UNION ALL
      |SELECT 'removed', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(n_chars) AS BIGINT), MIN(doc_id), MAX(doc_id)
      |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
      |ORDER BY change""".stripMargin

  // --------------------------------------------------------------- q277

  /** q277: MULTI-TABLE snapshot consistency — the transaction concept
    * single-table formats lack, via [[graft.sources.SnapshotCatalog]]: a
    * catalog version atomically pins one committed version per table, so
    * a coordinated update (documents v2 + its derived docstats v2) becomes
    * visible in ONE catalog rename and a reader can never join new
    * documents against old stats. The staged estate ends with an IN-FLIGHT
    * third update — documents v3 committed at table level, its stats and
    * catalog pin never landed — which catalog-governed readers must not
    * see (Round10Spec pins catalog=2 while the table log is at 3).
    *
    * The query audits every catalog version: per-source doc/char counts
    * recomputed from the pinned documents version, full-outer joined
    * against the pinned docstats table — `n_mismatch = 0` on every row IS
    * the consistency proof, hash-checked (a reader mixing versions would
    * mismatch on src3's row). Scale: the catalog pin is one file rename
    * regardless of table count or size; readers pay one tiny `_catalog`
    * listing before normal per-table manifest resolution.
    */
  private def q277(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{SnapshotCatalog, VersionedManifest => VM}
    val root = StagingDirs.dir(s, "mtcat", d)
    StagingDirs.once(root) {
      val statsOf = (v: Long) => VM.readAt(s, s"$root/documents", v)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      Tables.documents(s, d)
        .write.mode("overwrite").parquet(s"$root/documents/v=1")
      VM.commit(s, s"$root/documents", 1, "initial load")
      statsOf(1).write.mode("overwrite").parquet(s"$root/docstats/v=1")
      VM.commit(s, s"$root/docstats", 1, "stats of documents v1")
      SnapshotCatalog.commit(s, root, 1,
        Map("documents" -> 1L, "docstats" -> 1L))
      // the coordinated update: both tables land and commit, ONE pin
      VM.readAt(s, s"$root/documents", 1).filter(col("source") =!= "src3")
        .write.mode("overwrite").parquet(s"$root/documents/v=2")
      VM.commit(s, s"$root/documents", 2, "erase src3")
      statsOf(2).write.mode("overwrite").parquet(s"$root/docstats/v=2")
      VM.commit(s, s"$root/docstats", 2, "stats of documents v2")
      SnapshotCatalog.commit(s, root, 2,
        Map("documents" -> 2L, "docstats" -> 2L))
      // in-flight: table-level commit with no catalog pin — invisible
      VM.readAt(s, s"$root/documents", 2).filter(col("source") =!= "src5")
        .write.mode("overwrite").parquet(s"$root/documents/v=3")
      VM.commit(s, s"$root/documents", 3, "in-flight: erase src5")
    }
    val latest = SnapshotCatalog.latest(s, root).getOrElse(
      throw new IllegalStateException(s"no catalog at $root"))
    (1L to latest).map { m =>
      val pins = SnapshotCatalog.pins(s, root, m)
      val live = SnapshotCatalog.readAt(s, root, m, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("live_docs"), sum(col("n_chars")).as("live_chars"))
      SnapshotCatalog.readAt(s, root, m, "docstats")
        .join(live, Seq("source"), "full_outer")
        .agg(
          count(lit(1)).as("n_sources"),
          sum(when(col("live_docs").isNull or col("n_docs").isNull or
            col("live_docs") =!= col("n_docs") or
            col("live_chars") =!= col("total_chars"), 1L).otherwise(0L))
            .as("n_mismatch"),
          sum(col("live_docs")).as("n_docs_total"))
        .select(lit(m).as("catalog_version"),
          lit(pins("documents")).as("docs_version"),
          lit(pins("docstats")).as("stats_version"),
          col("n_sources"), col("n_mismatch"), col("n_docs_total"))
    }.reduce(_.unionByName(_)).orderBy(col("catalog_version"))
  }

  private val q277Sql =
    """SELECT CAST(1 AS BIGINT) AS catalog_version,
      |  CAST(1 AS BIGINT) AS docs_version, CAST(1 AS BIGINT) AS stats_version,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs_total
      |FROM documents
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
      |  CAST(COUNT(DISTINCT source) AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(COUNT(*) AS BIGINT)
      |FROM documents WHERE source <> 'src3'
      |ORDER BY catalog_version""".stripMargin

  // --------------------------------------------------------------- q256

  /** q256: COPY-ON-WRITE row delete — the GDPR-erasure shape on the
    * versioned table: "remove everything from src3" lands as a NEW
    * committed version holding the complement (v=1 stays intact for the
    * retention window; q249's vacuum is where it eventually dies). The
    * post-delete read proves the rows are gone and the deleted count
    * rides along, reconciled by the oracle against the source table.
    * Readers mid-delete keep serving v=1 — erasure is atomic at the
    * manifest rename like every other commit.
    *
    * Scale: COW rewrites only what it keeps (one filtered scan→write);
    * the delete never touches readers. A production estate narrows the
    * rewrite to the FILES containing hits — exactly q251's stats
    * manifest consulted with the delete predicate; composing the two is
    * file-level COW, same commit protocol.
    */
  private def q256(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "cow", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      // the erasure: keep the complement, commit as the next version
      graft.sources.VersionedManifest.readAt(s, dir, 1)
        .filter(col("source") =!= "src3")
        .write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "erase source=src3")
    }
    val before = graft.sources.VersionedManifest.readAt(s, dir, 1)
      .agg(count(lit(1))).head().getLong(0)
    val after = graft.sources.VersionedManifest.readLatest(s, dir)
    val kept = after.agg(count(lit(1))).head().getLong(0)
    after.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("deleted_rows", lit(before - kept))
      .orderBy(col("source"))
  }

  private val q256Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST((SELECT COUNT(*) FROM documents WHERE source = 'src3')
      |    AS BIGINT) AS deleted_rows
      |FROM documents WHERE source != 'src3'
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q280

  /** Stage q280's materialized view once per (session, dataset): the
    * (l_returnflag, l_linestatus) summary of lineitem with exact-decimal
    * sums, a count, and min/max measures, landed as parquet and registered
    * with [[graft.plans.MaterializedViews]]. Returns the MV path.
    */
  private[operators] def mvLayout(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "mv", d)
    val path = s"$dir/mv"
    StagingDirs.once(dir) {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
          count(lit(1)).as("cnt"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_discount")).as("max_disc"))
        .write.mode("overwrite").parquet(path)
    }
    graft.plans.MaterializedViews.register(graft.plans.MaterializedViews.MvDef(
      dims = Set("l_returnflag", "l_linestatus"),
      measures = Map(
        "sum:l_quantity:decimal(18,2)" -> "sum_qty",
        "sum:l_extendedprice:decimal(18,2)" -> "sum_price",
        "count" -> "cnt",
        "min:l_quantity:_" -> "min_qty",
        "max:l_discount:_" -> "max_disc"),
      baseCols = Set("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_linestatus"),
      path = path, basePath = s"$d/lineitem.parquet"))
    path
  }

  /** q280: MATERIALIZED-VIEW aggregate navigation — the classic OLAP
    * rewrite, as a [[graft.plans.MvRewrite]] optimizer rule: the user
    * writes the plain lineitem rollup (grouped COARSER than the MV —
    * returnflag only), and with the rewrite conf scoped on, the optimizer
    * re-targets the Aggregate from the 100 TB fact to the few-row summary:
    * `count(*)` → `sum(cnt)`, exact-decimal `sum(x)` → `sum(sum_x)`
    * (associative — bit-identical re-aggregation), `min/max` → over the
    * partial min/max. User SQL unchanged; executed plan reads the MV
    * (Round10Spec pins the scan swap and the with/without-rewrite row
    * equality). The DuckDB oracle computes the rollup DIRECTLY from
    * lineitem, so the rewrite's transparency is hash-checked, not assumed.
    *
    * Scale: this is the summary-table pattern every BI estate runs — the
    * rewrite makes it free at the QUERY layer (no app changes when the MV
    * lands), and the MV itself is maintainable incrementally (q276's CDC
    * delta pattern applies verbatim to the summary).
    */
  private def q280(s: SparkSession, d: String): DataFrame = {
    mvLayout(s, d)
    withConf(s, "spark.graft.mv.rewrite" -> "true") { s =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_discount")).as("max_disc"))
        .orderBy(col("l_returnflag"))
    }
  }

  private val q280Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(l_quantity) AS min_qty, MAX(l_discount) AS max_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q282

  /** q282: INCREMENTAL MV REFRESH — the freshness half of q280's
    * aggregate navigation: the fact is an append-log versioned estate
    * (v=1 base load, v=2 increment, each committed), the summary is
    * refreshed by aggregating ONLY the increment and merging it into the
    * stale MV (`sum+sum` exact-decimal, `cnt+cnt`, `least/greatest` of
    * partial min/max, full-outer on the dimensions so brand-new groups
    * appear). The oracle computes the summary DIRECTLY from the full
    * fact, so a refresh that missed the increment, double-merged it, or
    * dropped a new group is a hash mismatch.
    *
    * Scale: refresh cost is O(increment) + one |MV|-sized merge join —
    * never a fact rescan; this is the maintenance loop a 100 TB summary
    * runs per landed batch, and composed with q280 the rewrite keeps
    * serving rollups from a summary that is never stale by more than one
    * commit.
    */
  private def q282(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "mvref", d)
    StagingDirs.once(dir) {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_orderkey") % 4 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "base load")
      li.filter(col("l_orderkey") % 4 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      VM.commit(s, dir, 2, "increment")
    }
    val summarize = (df: DataFrame) => df
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
        count(lit(1)).as("cnt"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_discount")).as("max_disc"))
    val stale = summarize(VM.readAt(s, dir, 1))
    val delta = summarize(VM.readAt(s, dir, 2))
    mergeMvIncrement(stale, delta)
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** The q282 merge step, isolated so the full-outer semantics (new groups
    * surface from the increment side, stale-only groups pass through, and
    * `least`/`greatest` treat the absent side as identity) are testable on
    * synthetic frames independent of the staged estate.
    */
  private[operators] def mergeMvIncrement(stale: DataFrame, delta: DataFrame): DataFrame = {
    val dims = Seq("l_returnflag", "l_linestatus")
    stale.join(delta, dims, "full_outer")
      .select(
        col("l_returnflag"), col("l_linestatus"),
        (coalesce(stale("sum_qty"), lit(0)) + coalesce(delta("sum_qty"), lit(0)))
          .cast("double").as("sum_qty"),
        (coalesce(stale("sum_price"), lit(0)) + coalesce(delta("sum_price"), lit(0)))
          .cast("double").as("sum_price"),
        (coalesce(stale("cnt"), lit(0L)) + coalesce(delta("cnt"), lit(0L)))
          .as("cnt"),
        least(stale("min_qty"), delta("min_qty")).as("min_qty"),
        greatest(stale("max_disc"), delta("max_disc")).as("max_disc"))
  }

  private val q282Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  MIN(l_quantity) AS min_qty, MAX(l_discount) AS max_disc
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q284

  /** q284: OPTIMISTIC CONCURRENCY on the versioned table — two appenders
    * race for the same version slot with NO lock service; conflict
    * detection is [[graft.sources.VersionedManifest.tryCommit]]'s
    * exclusive manifest create, and the loser REBASES (blind appends
    * commute, so the retry re-tags its already-staged rows with the new
    * target version and claims the next slot — no recompute). Each
    * attempt stages under its own `d-<writer>-<attempt>` directory and
    * the manifest's `data=` line does the addressing, so a lost attempt's
    * files can never mix with the winner's; the abandoned staging dir is
    * then reclaimed by vacuum's unreferenced-dir sweep while both
    * committed dirs survive.
    *
    * The staged estate encodes the interleaving's OUTCOME in the data:
    * every row carries the commit_version its writer finally published
    * under, so writer B's rows tagged 3 — not the 2 it first attempted —
    * prove the conflict was detected and the rebase ran. The oracle maps
    * `o_orderkey % 3` straight to that final version assignment and
    * aggregates; a lost row, a double-commit, or a retry that kept the
    * stale tag all hash-mismatch. Round10Spec drives the interleaving
    * step-by-step (loser sees false, winner dirs survive vacuum).
    *
    * Scale: the protocol is Delta/Iceberg's optimistic loop reduced to
    * its essence — conflict cost is one failed create + restaging the
    * INCREMENT (never the table), and the commit path is O(1) filesystem
    * operations regardless of table size.
    */
  /** q284's staged estate (shared with q291's history listing): three
    * committed versions — positional v=1 base load, then the two-writer
    * optimistic race leaving d-dir commits 2 and 3. Returns the dir.
    */
  private def occEstate(s: SparkSession, d: String): String = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "occ", d)
    StagingDirs.once(dir) {
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
      // base load via the plain positional-commit path (v=1): both
      // manifest spellings coexist in one log
      ord.filter(col("o_orderkey") % 3 === 0)
        .withColumn("commit_version", lit(1L))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "base load")
      // two concurrent appenders, both reading latest = 1 and both
      // targeting slot 2; each stages under its own unique dir
      val base = VM.latestCommitted(s, dir).get
      ord.filter(col("o_orderkey") % 3 === 1)
        .withColumn("commit_version", lit(base + 1))
        .write.mode("overwrite").parquet(s"$dir/d-writer-a-1")
      ord.filter(col("o_orderkey") % 3 === 2)
        .withColumn("commit_version", lit(base + 1))
        .write.mode("overwrite").parquet(s"$dir/d-writer-b-1")
      val aWon = VM.tryCommit(s, dir, base + 1, "data=d-writer-a-1\nwriter-a append")
      val bLost = !VM.tryCommit(s, dir, base + 1, "data=d-writer-b-1\nwriter-b append")
      require(aWon && bLost, s"interleaving broke: aWon=$aWon bLost=$bLost")
      // B's rebase: blind appends commute — re-tag the staged rows with
      // the new target version and claim the next slot
      val retry = VM.latestCommitted(s, dir).get + 1
      Tables.parquet(s, s"$dir/d-writer-b-1")
        .withColumn("commit_version", lit(retry))
        .write.mode("overwrite").parquet(s"$dir/d-writer-b-2")
      require(VM.tryCommit(s, dir, retry, "data=d-writer-b-2\nwriter-b append (rebased)"),
        s"rebased commit at $retry lost again")
      VM.vacuum(s, dir) // reclaims d-writer-b-1, keeps both committed dirs
    }
    dir
  }

  private def q284(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = occEstate(s, d)
    VM.committedVersions(s, dir)
      .map(n => VM.readAt(s, dir, n))
      .reduce(_ unionByName _)
      .groupBy(col("commit_version"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("commit_version"))
  }

  private val q284Sql =
    """SELECT CAST(CASE o_orderkey % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
      |    AS BIGINT) AS commit_version,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q307

  /** q307: SHALLOW CLONE — a zero-copy table clone with divergent
    * histories, the dev/test-against-prod and experiment-branching
    * primitive of a transactional estate (Delta's `CREATE TABLE ... SHALLOW
    * CLONE`): the clone's v1 is ONE manifest file whose `data=` lines
    * reference the source table's committed data dirs by absolute address
    * ([[graft.sources.VersionedManifest.resolveDataDirs]] — no data bytes
    * move), and a later append commits v2 listing {source dirs} ∪
    * {clone-local delta dir}. The source's history never sees the clone's
    * writes; the clone time-travels independently. Round10Spec pins the
    * zero-copy and isolation contracts (no parquet lands outside the
    * clone's own delta dir; source history is still exactly [1]).
    *
    * Scale: cloning a 100 TB table costs one O(#dirs) manifest write —
    * the point of the operator. The clone's reads plan against the
    * SAME source files (cache- and skipping-friendly); only its deltas
    * occupy new storage. Vacuum stays per-table safe: external refs are
    * never part of a table's own reclaim set.
    */
  private def cloneEstate(s: SparkSession, d: String): (String, String) = {
    import graft.sources.{VersionedManifest => VM}
    val root = StagingDirs.dir(s, "clone", d)
    val src = s"$root/src"
    val cl = s"$root/clone"
    StagingDirs.once(root) {
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
      ord.filter(col("o_orderkey") % 4 === 0)
        .write.mode("overwrite").parquet(s"$src/v=1")
      VM.commit(s, src, 1, "base load")
      // SHALLOW CLONE: one manifest write, zero data bytes copied
      val srcData = VM.resolveDataDirs(s, src, 1)
      VM.commit(s, cl, 1,
        srcData.map(p => s"data=$p").mkString("\n") + "\nshallow clone of src@v1")
      // divergence: the delta lands in the CLONE's own dir; its v2 lists
      // the inherited source dirs plus the delta
      ord.filter(col("o_orderkey") % 4 === 1)
        .write.mode("overwrite").parquet(s"$cl/d-delta-1")
      VM.commit(s, cl, 2,
        (srcData.map(p => s"data=$p") :+ "data=d-delta-1").mkString("\n") +
          "\nclone-local append")
    }
    (src, cl)
  }

  private def q307(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val (src, cl) = cloneEstate(s, d)
    VM.readLatest(s, src).withColumn("tbl", lit("source"))
      .unionByName(VM.readLatest(s, cl).withColumn("tbl", lit("clone")))
      .groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("tbl"))
  }

  private val q307Sql =
    """SELECT tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM (
      |  SELECT 'source' AS tbl, o_totalprice FROM orders WHERE o_orderkey % 4 = 0
      |  UNION ALL
      |  SELECT 'clone' AS tbl, o_totalprice FROM orders WHERE o_orderkey % 4 IN (0, 1))
      |GROUP BY tbl ORDER BY tbl""".stripMargin

  // --------------------------------------------------------------- q313

  /** q313: SMALL-FILES PRESSURE AUDIT — the monitoring query that TRIGGERS
    * q245's compaction: a hive-partitioned landing deliberately fragmented
    * (one file per (lang, doc_id%8) leaf — the repartition-then-partitionBy
    * write guarantees the file-per-leaf layout, so the file census is
    * DETERMINISTIC and the oracle replays it from the logical data alone:
    * `n_files = COUNT(DISTINCT doc_id % 8)` per lang). Reports per
    * partition: file count, rows, mean rows/file, and the
    * `needs_compaction` flag (> 4 files). The physical census reads the
    * parquet reader's hidden `_metadata.file_path` column — no driver-side
    * directory listing.
    *
    * Scale: the audit is one metadata-projecting scan + an O(#partitions)
    * aggregate; at 100 TB it reads file paths and row counts, never data
    * columns (column pruning keeps the scan to the partition values +
    * `_metadata`).
    */
  private def smallFilesEstate(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "sfiles", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("bucket", col("doc_id") % 8)
        .repartition(col("lang"), col("bucket"))
        .write.partitionBy("lang", "bucket").mode("overwrite")
        .parquet(s"$dir/docs")
    }
    dir
  }

  private def q313(s: SparkSession, d: String): DataFrame = {
    val dir = smallFilesEstate(s, d)
    Tables.parquet(s, s"$dir/docs")
      .select(col("lang"), col("_metadata.file_path").as("f"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"))
      .select(col("lang"), col("n_files"), col("n_rows"),
        expr("n_rows div n_files").as("mean_rows_per_file"),
        when(col("n_files") > 4, lit(1L)).otherwise(lit(0L)).as("needs_compaction"))
      .orderBy(col("lang"))
  }

  private val q313Sql =
    """SELECT lang,
      |  CAST(COUNT(DISTINCT doc_id % 8) AS BIGINT) AS n_files,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) // COUNT(DISTINCT doc_id % 8) AS BIGINT) AS mean_rows_per_file,
      |  CAST(CASE WHEN COUNT(DISTINCT doc_id % 8) > 4 THEN 1 ELSE 0 END AS BIGINT)
      |    AS needs_compaction
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q308

  /** q308: CASCADE ERASURE AUDIT — GDPR right-to-be-forgotten across a
    * foreign-key chain: a forget-list of customers erases the customers,
    * THEIR orders, and those orders' lineitems, and the result is audited
    * for referential closure (zero orphan orders, zero orphan lineitems)
    * IN the same report, so the closure property itself is hash-checked
    * against the oracle's independent replay. This is the planning/audit
    * layer of erasure; the physical row-level delete is q288/q299's
    * deletion-vector machinery.
    *
    * Scale: the forget list is tiny → broadcast; the cascade chases keys
    * DOWN the FK chain with the O(deleted) key set as the build side at
    * every hop (forgotten custkeys → their orderkeys), so customer,
    * orders, and lineitem each stream through ONE map-side anti join —
    * the 100 TB fact never shuffles. Past broadcast size the same plan
    * degrades gracefully to a shuffled anti join keyed on the fact's own
    * join key, still O(deleted) build state per task.
    */
  private def q308(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val forget = cust.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val deletedOrders = ord
      .join(broadcast(forget), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("del_okey"))
    val survCust = cust.join(broadcast(forget), Seq("c_custkey"), "left_anti")
    val survOrd = ord.join(broadcast(forget),
      col("o_custkey") === col("c_custkey"), "left_anti")
    val survLi = li.join(broadcast(deletedOrders),
      col("l_orderkey") === col("del_okey"), "left_anti")
    def m(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("value")).select(lit(name).as("metric"), col("value"))
    m("customer_after", survCust)
      .unionByName(m("customer_forgotten", forget))
      .unionByName(m("orders_after", survOrd))
      .unionByName(m("orders_deleted", deletedOrders))
      .unionByName(m("lineitem_after", survLi))
      // referential closure: surviving children always have surviving parents
      .unionByName(m("orphan_orders", survOrd.join(survCust,
        survOrd("o_custkey") === survCust("c_custkey"), "left_anti")))
      .unionByName(m("orphan_lineitems", survLi.join(survOrd,
        survLi("l_orderkey") === survOrd("o_orderkey"), "left_anti")))
      .orderBy(col("metric"))
  }

  private val q308Sql =
    """WITH forget AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |del_ord AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM forget)),
      |surv_cust AS (
      |  SELECT * FROM customer
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM forget)),
      |surv_ord AS (
      |  SELECT * FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM forget)),
      |surv_li AS (
      |  SELECT * FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_ord))
      |SELECT metric, value FROM (
      |  SELECT 'customer_after' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM surv_cust
      |  UNION ALL SELECT 'customer_forgotten', CAST(COUNT(*) AS BIGINT) FROM forget
      |  UNION ALL SELECT 'orders_after', CAST(COUNT(*) AS BIGINT) FROM surv_ord
      |  UNION ALL SELECT 'orders_deleted', CAST(COUNT(*) AS BIGINT) FROM del_ord
      |  UNION ALL SELECT 'lineitem_after', CAST(COUNT(*) AS BIGINT) FROM surv_li
      |  UNION ALL SELECT 'orphan_orders', CAST(COUNT(*) AS BIGINT) FROM surv_ord
      |    WHERE o_custkey NOT IN (SELECT c_custkey FROM surv_cust)
      |  UNION ALL SELECT 'orphan_lineitems', CAST(COUNT(*) AS BIGINT) FROM surv_li
      |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM surv_ord))
      |ORDER BY metric""".stripMargin

  // --------------------------------------------------------------- q285

  /** q285: PARTITION-SPEC EVOLUTION — the estate changed its partition
    * granularity mid-life (hive layout by ship MONTH for history, by ship
    * DAY once operations needed day-level retention/pruning), and the old
    * data is NEVER rewritten: one logical reader plans BOTH layouts,
    * derives each leg's partition predicate by COARSENING the same
    * row-level date range to that leg's spec (month prefix vs day), and
    * unions the legs. The row-level filter stays on both legs as the
    * semantic truth — partition pruning is only the optimization — so a
    * range that splits a month dir is still exact. Round10Spec pins the
    * pruning per leg: the month leg reads 2 of ~80 dirs, the day leg 14
    * of ~60, out of the scans' own `numPartitions` metrics.
    *
    * Scale: this is Iceberg's spec-evolution contract (spec-id per file,
    * predicates transformed per spec) in its hive-layout essence; the
    * alternative — rewriting 100 TB of history to the new granularity —
    * costs a full-table rewrite and a frozen write path while it runs.
    */
  private[operators] def q285Estate(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "specevo", d)
    StagingDirs.once(dir) {
      val li = Tables.lineitem(s, d)
        .select(col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
      val cut = lit("2001-10-01").cast(DateType)
      li.filter(col("l_shipdate") < cut)
        .withColumn("l_ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(col("l_ship_month"))
        .write.partitionBy("l_ship_month").mode("overwrite")
        .parquet(s"$dir/bymonth")
      li.filter(col("l_shipdate") >= cut)
        .withColumn("l_ship_day", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .repartition(col("l_ship_day"))
        .write.partitionBy("l_ship_day").mode("overwrite")
        .parquet(s"$dir/byday")
    }
    dir
  }

  /** The evolved reader: one date range, per-spec coarsened partition
    * predicates, row-level refinement on both legs. `to` is exclusive.
    */
  private[operators] def q285Read(s: SparkSession, dir: String,
                                  from: String, to: String): DataFrame = {
    val rowPred = col("l_shipdate") >= lit(from).cast(DateType) &&
      col("l_shipdate") < lit(to).cast(DateType)
    // month spec: the range coarsens to [month(from), month(to)] — the
    // upper month may partially overlap, so it stays IN and the row
    // predicate trims it; pruning still drops every other history month
    val monthLeg = Tables.parquet(s, s"$dir/bymonth")
      .filter(col("l_ship_month") >= from.substring(0, 7) &&
        col("l_ship_month") <= to.substring(0, 7) && rowPred)
      .drop("l_ship_month")
    // day spec: the coarsening is exact ([from, to) on the dir name)
    val dayLeg = Tables.parquet(s, s"$dir/byday")
      .filter(col("l_ship_day") >= from && col("l_ship_day") < to && rowPred)
      .drop("l_ship_day")
    monthLeg.unionByName(dayLeg)
  }

  private def q285(s: SparkSession, d: String): DataFrame =
    q285Read(s, q285Estate(s, d), "2001-08-01", "2001-10-15")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(9,4)")))
          .cast("double").as("revenue"))
      .orderBy(col("ship_month"))

  private val q285Sql =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '2001-08-01' AND l_shipdate < DATE '2001-10-15'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q288

  /** q288: DELETION VECTORS — merge-on-read row-level delete, the
    * counterpart of q256's copy-on-write: base files are NEVER rewritten.
    * The delete scans with the file-source `_metadata` columns and lands
    * a sidecar of (file, row_index) positions — cost O(matched rows) —
    * and readers subtract it with a broadcast LEFT ANTI join on that
    * file-generated row identity. The deleted set is a deterministic md5
    * bucket (~5 %) so the oracle replays the predicate and the
    * merge-on-read view hash-matches the filtered table exactly.
    * Round10Spec pins the MoR contract: base part files are
    * byte-identical after the delete (length + mtime), the DV holds
    * exactly the matched positions, and the subtract is a broadcast anti
    * join.
    *
    * Scale: CoW rewrites every file a predicate touches — a 0.1 % GDPR
    * sweep on a 100 TB estate becomes a full rewrite; MoR writes
    * O(deleted) and defers the rewrite to the next compaction (q242) —
    * the Delta deletion-vector / Iceberg positional-delete design. The
    * DV broadcasts because deletes are sparse by construction; a DV
    * outgrowing broadcast is the compaction trigger.
    */
  private def q288(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "dv", d)
    val delPred = // seed-free ~5% bucket, engine-replayable
      Digest.bucket(Digest.salted("del-", col("doc_id")), 1, 7) % 20 === 0
    StagingDirs.once(dir) {
      Tables.documents(s, d).repartition(4)
        .write.mode("overwrite").parquet(s"$dir/base")
      Tables.parquet(s, s"$dir/base")
        .select(col("_metadata.file_path").as("f"),
          col("_metadata.row_index").as("r"), col("doc_id"))
        .filter(delPred)
        .select(col("f"), col("r"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/dv")
    }
    val dv = Tables.parquet(s, s"$dir/dv")
    val deleted = dv.count()
    Tables.parquet(s, s"$dir/base")
      .withColumn("f", col("_metadata.file_path"))
      .withColumn("r", col("_metadata.row_index"))
      .join(broadcast(dv), Seq("f", "r"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("deleted_rows", lit(deleted))
      .orderBy(col("source"))
  }

  private val q288Sql = {
    val h7 = graft.Exact.sqlHexToLong("md5('del-' || doc_id)", 1, 7)
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST((SELECT COUNT(*) FROM documents
       |        WHERE CAST($h7 AS BIGINT) % 20 = 0) AS BIGINT) AS deleted_rows
       |FROM documents
       |WHERE CAST($h7 AS BIGINT) % 20 <> 0
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q296

  /** q296: DV-ABSORBING COMPACTION — the lifecycle step q288 defers: the
    * merge-on-read table (v1 base + positional deletion vector) is
    * compacted by materializing the live view ONCE into a fresh data dir
    * and committing it as the next version; after the commit, readers get
    * a PLAIN scan (Round10Spec pins the anti-join gone from the plan)
    * while v1 + DV remain time-travelable for forensics. The query reads
    * the compacted latest; the oracle computes the same logical delete
    * directly from the source table, so a compaction that dropped,
    * duplicated, or resurrected rows hash-mismatches.
    *
    * Scale: this is the deferred cost MoR trades into — ONE rewrite of
    * the live rows, scheduled when the DV's read overhead exceeds the
    * rewrite's amortized cost, instead of q256's rewrite-per-delete; the
    * versioned commit makes the swap atomic for concurrent readers.
    */
  private def q296(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "dvcomp", d)
    val delPred = Digest.bucket(Digest.salted("del-", col("doc_id")), 1, 7) % 20 === 0
    StagingDirs.once(dir) {
      Tables.documents(s, d).repartition(4)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "base load")
      Tables.parquet(s, s"$dir/v=1")
        .select(col("_metadata.file_path").as("f"),
          col("_metadata.row_index").as("r"), col("doc_id"))
        .filter(delPred).select(col("f"), col("r"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/dv-v1")
      // the compaction: materialize the live view once, commit atomically
      morView(s, dir).write.mode("overwrite").parquet(s"$dir/d-compact-1")
      require(VM.tryCommit(s, dir, 2, "data=d-compact-1\ncompaction: DV absorbed"),
        "compaction commit lost a race in a single-writer test")
    }
    val v = VM.latestCommitted(s, dir).get
    VM.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("compacted_version", lit(v))
      .orderBy(col("source"))
  }

  /** The q296 merge-on-read view over v1 + its deletion vector — shared
    * with the spec so "before compaction: anti join / after: plain scan"
    * compares the same construction.
    */
  private[operators] def morView(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/v=1")
      .withColumn("f", col("_metadata.file_path"))
      .withColumn("r", col("_metadata.row_index"))
      .join(broadcast(Tables.parquet(s, s"$dir/dv-v1")), Seq("f", "r"), "left_anti")
      .drop("f", "r")

  private val q296Sql = {
    val h7 = graft.Exact.sqlHexToLong("md5('del-' || doc_id)", 1, 7)
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(2 AS BIGINT) AS compacted_version
       |FROM documents
       |WHERE CAST($h7 AS BIGINT) % 20 <> 0
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q300

  /** q300: COLUMN MAPPING — renaming a column on a 100 TB table without
    * touching a byte of data: the table's LOGICAL schema maps each
    * logical name to the PHYSICAL name a file generation carries
    * (Delta's column-mapping / Iceberg's field-id indirection, reduced
    * to its essence). Here history (v1) physically stores `n_chars`,
    * the post-rename generation (v2) stores `char_count`, and the
    * per-version mapping (recorded in each commit's manifest body as
    * `map=logical:physical` lines) lets ONE reader resolve both
    * generations to the logical schema and union them. The oracle
    * computes from the source table under the logical name, so a
    * mapping applied to the wrong generation, a dropped rename, or a
    * physical-name leak all hash-mismatch. Round10Spec pins that the
    * rename rewrote nothing: v1's files are byte-identical before and
    * after the rename commit.
    *
    * Scale: the rename is ONE manifest write; every alternative is a
    * full-table rewrite. The read-side cost is a per-generation
    * projection alias — free under codegen.
    */
  private def q300(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "colmap", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("source"))
      // generation 1: physical name n_chars
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "map=char_count:n_chars\ninitial load")
      // the RENAME + the next increment: new files carry the new
      // physical name; old files are never rewritten
      docs.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("n_chars", "char_count")
        .write.mode("overwrite").parquet(s"$dir/v=2")
      VM.commit(s, dir, 2, "map=char_count:char_count\nrename n_chars -> char_count; append odds")
    }
    // the mapped reader: resolve each generation's physical schema to
    // the logical one, then union
    val gens = VM.committedVersions(s, dir).map { n =>
      val mapping = VM.describe(s, dir, n).linesIterator
        .filter(_.startsWith("map=")).map(_.stripPrefix("map="))
        .map { kv => val Array(lg, ph) = kv.split(":", 2); lg -> ph }
        .toMap
      mapping.foldLeft(VM.readAt(s, dir, n)) { case (df, (lg, ph)) =>
        if (lg == ph) df else df.withColumnRenamed(ph, lg)
      }
    }
    gens.reduce(_ unionByName _)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("char_count")).as("total_chars"))
      .orderBy(col("source"))
  }

  private val q300Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q299

  /** q299: MoR MERGE — the deletion-vector-backed UPSERT that completes
    * the row-level-operations matrix (COW delete q256, COW merge q269,
    * MoR delete q288, MoR compaction q296): one merge applies UPDATES,
    * DELETES and INSERTS against the base WITHOUT rewriting it — old
    * images of updated and deleted rows go into the positional DV
    * (O(touched)), postimages of updates plus brand-new rows land in a
    * small DELTA file (O(touched)), and the read view is
    * `(base − DV) ∪ delta`. The change-set is q293's exact scenario
    * (edit id%6==0, purge id%10==4, insert odd id%5==1), so the oracle
    * replays the merged end state from the source table — a row
    * double-applied, half-applied, or resurrected hash-mismatches; the
    * DV and delta sizes ride along as audited columns.
    *
    * Scale: merge cost is O(touched rows) in both artifacts vs COW's
    * rewrite of every touched FILE; the read adds one broadcast
    * anti-join and one union, both absorbed by the next q296-style
    * compaction. This is Delta's DV-backed MERGE / Iceberg's
    * positional-delete + data-file commit in its layout essence.
    */
  private def q299(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "mormerge", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("source"))
      docs.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.mode("overwrite").parquet(s"$dir/base")
      // DV: old images of deleted (%10==4) AND updated (%6==0) rows
      Tables.parquet(s, s"$dir/base")
        .select(col("_metadata.file_path").as("f"),
          col("_metadata.row_index").as("r"), col("doc_id"))
        .filter(col("doc_id") % 10 === 4 || col("doc_id") % 6 === 0)
        .select(col("f"), col("r"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/dv")
      // delta: postimages of surviving updates + the arriving inserts
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 4 &&
          col("doc_id") % 6 === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
        .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 1))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/delta")
    }
    val dv = Tables.parquet(s, s"$dir/dv")
    val delta = Tables.parquet(s, s"$dir/delta")
    val (nDv, nDelta) = (dv.count(), delta.count())
    Tables.parquet(s, s"$dir/base")
      .withColumn("f", col("_metadata.file_path"))
      .withColumn("r", col("_metadata.row_index"))
      .join(broadcast(dv), Seq("f", "r"), "left_anti")
      .drop("f", "r")
      .unionByName(delta)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("n_dv", lit(nDv))
      .withColumn("n_delta", lit(nDelta))
      .orderBy(col("source"))
  }

  private val q299Sql =
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
      |    source
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4
      |  UNION ALL
      |  SELECT doc_id, n_chars, source FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 5 = 1),
      |sizes AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0
      |       AND (doc_id % 10 = 4 OR doc_id % 6 = 0)) AS n_dv,
      |    (SELECT COUNT(*) FROM documents
      |       WHERE (doc_id % 2 = 0 AND doc_id % 10 <> 4 AND doc_id % 6 = 0)
      |          OR (doc_id % 2 = 1 AND doc_id % 5 = 1)) AS n_delta)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST((SELECT n_dv FROM sizes) AS BIGINT) AS n_dv,
      |  CAST((SELECT n_delta FROM sizes) AS BIGINT) AS n_delta
      |FROM v2 GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q298

  /** q298: AUTOMATIC BINNED RANGE JOIN — events enriched with the
    * campaign window containing their event time: a pure interval join
    * (no equi key), which Spark plans as a nested-loop — O(events ×
    * campaigns) comparisons, the scale killer of point-in-interval
    * enrichment. With `plans.RangeJoinRewrite` gated on (1-hour bins),
    * the SAME declarative query plans as a hash equi-join on the bin
    * with the original predicate as residual: PlanSpec pins the plan
    * flip (NestedLoop without the rule, HashJoin + zero NestedLoop with
    * it) and the oracle hash-checks that the rewrite changed the plan,
    * not the answer. Campaign windows are generated in-plan (50
    * five-hour windows every ~14 h across the event month) so both
    * engines replay them bit-identically.
    *
    * Scale: candidates drop from |events|·|campaigns| to
    * O(matches + campaigns · span/W); the join hash-partitions on the
    * bin like any equi-join, so it shuffles instead of replicating a
    * side. The conf is the tuning knob a real estate sets per domain
    * (W ≈ median interval width).
    */
  private def q298(s: SparkSession, d: String): DataFrame =
    withConf(s, "spark.graft.rangejoin.bin" -> "3600")(q298Query(_, d))

  /** The q298 frame WITHOUT conf scoping — shared with PlanSpec so the
    * rule-off and rule-on plans compare the same construction.
    */
  private[graft] def q298Query(s: SparkSession, d: String): DataFrame = {
    val base = 1704067200L // 2024-01-01T00:00:00Z, the event month's start
    val camp = s.range(50).select(col("id").as("campaign_id"),
      expr(s"timestamp_seconds($base + id * 50220)").as("c_start"),
      expr(s"timestamp_seconds($base + id * 50220 + 18000)").as("c_end"))
    Tables.events(s, d)
      .join(camp, col("ts") >= col("c_start") && col("ts") <= col("c_end"))
      .groupBy(col("campaign_id"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("campaign_id"))
  }

  private val q298Sql =
    s"""WITH camp AS (
       |  SELECT range AS campaign_id,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + INTERVAL (range * 50220) SECOND AS c_start,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + INTERVAL (range * 50220 + 18000) SECOND AS c_end
       |  FROM range(50))
       |SELECT campaign_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events JOIN camp
       |  ON CAST(ts AS TIMESTAMP) >= c_start AND CAST(ts AS TIMESTAMP) <= c_end
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q293

  /** q293: CHANGE DATA FEED — q255's version diff upgraded to the full
    * row-level feed a downstream incremental consumer (q276's index
    * maintenance, a warehouse merge, a cache invalidator) actually
    * subscribes to: each key classified as insert / delete / update, and
    * updates emit BOTH images (`update_preimage`, `update_postimage`) —
    * the Delta CDF / Debezium envelope — so a consumer can retract the
    * old aggregate contribution and add the new one without rescanning.
    * One full-outer join on the key + null-safe image comparison derives
    * the feed; unchanged rows emit NOTHING (the property that makes CDF
    * cheaper than snapshot-diff consumers). The rollup per change type
    * (rows, chars, id range) is hash-checked against the oracle's replay
    * of the same two staged versions from the source table.
    *
    * Scale: the feed costs one co-partitioned join of two versions and
    * ships O(changed) rows; image comparison is a map-side struct
    * equality. A 100 TB estate's CDC consumers read this, never the
    * table.
    */
  /** q293/q294's staged two-version estate: v1 = even doc ids, v2 = edits
    * (+1000 chars on id%6==0), purges (id%10==4), and new odd id%5==1
    * rows. Returns the table dir.
    */
  private def cdfEstate(s: SparkSession, d: String): String = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "cdf", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "initial load")
      // v2: evens with id%6==0 get edited (+1000 chars), id%10==4 purged,
      // and the odd id%5==1 slice arrives new
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 4)
        .withColumn("n_chars",
          when(col("doc_id") % 6 === 0, col("n_chars") + 1000)
            .otherwise(col("n_chars")))
        .unionByName(docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 1))
        .write.mode("overwrite").parquet(s"$dir/v=2")
      VM.commit(s, dir, 2, "edit + purge + append")
    }
    dir
  }

  /** The classified full-outer diff of the [[cdfEstate]] versions — the
    * (doc_id, pre, post, _change_type ∈ insert/delete/update) frame both
    * q293 (envelope) and q294 (incremental apply) consume.
    */
  private def cdfFeed(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = cdfEstate(s, d)
    val v1 = VM.readAt(s, dir, 1).select(col("doc_id"), col("n_chars").as("pre"))
    val v2 = VM.readAt(s, dir, 2).select(col("doc_id"), col("n_chars").as("post"))
    val feed = v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("_change_type",
        when(col("pre").isNull, "insert")
          .when(col("post").isNull, "delete")
          .when(!(col("pre") <=> col("post")), "update")
          .otherwise("unchanged"))
      .filter(col("_change_type") =!= "unchanged")
    feed
  }

  private def q293(s: SparkSession, d: String): DataFrame = {
    val feed = cdfFeed(s, d)
    // updates fan into the two-image envelope; n_chars is the image value
    feed.filter(col("_change_type") === "update")
      .select(lit("update_preimage").as("_change_type"), col("doc_id"),
        col("pre").as("n_chars"))
      .unionByName(feed.filter(col("_change_type") === "update")
        .select(lit("update_postimage").as("_change_type"), col("doc_id"),
          col("post").as("n_chars")))
      .unionByName(feed.filter(col("_change_type") === "insert")
        .select(lit("insert").as("_change_type"), col("doc_id"),
          col("post").as("n_chars")))
      .unionByName(feed.filter(col("_change_type") === "delete")
        .select(lit("delete").as("_change_type"), col("doc_id"),
          col("pre").as("n_chars")))
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("_change_type"))
  }

  private val q293Sql =
    """WITH v1 AS (SELECT doc_id, n_chars AS pre FROM documents
      |            WHERE doc_id % 2 = 0),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS post
      |       FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4
      |       UNION ALL
      |       SELECT doc_id, n_chars FROM documents
      |       WHERE doc_id % 2 = 1 AND doc_id % 5 = 1),
      |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, pre, post
      |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
      |feed AS (
      |  SELECT 'update_preimage' AS _change_type, doc_id, pre AS n_chars
      |  FROM j WHERE pre IS NOT NULL AND post IS NOT NULL AND pre <> post
      |  UNION ALL
      |  SELECT 'update_postimage', doc_id, post
      |  FROM j WHERE pre IS NOT NULL AND post IS NOT NULL AND pre <> post
      |  UNION ALL
      |  SELECT 'insert', doc_id, post FROM j WHERE pre IS NULL
      |  UNION ALL
      |  SELECT 'delete', doc_id, pre FROM j WHERE post IS NULL)
      |SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q294

  /** q294: CDF APPLY — the consuming half of q293: a downstream
    * per-bucket aggregate is maintained INCREMENTALLY by retraction
    * arithmetic (insert → +1/+post, delete → −1/−pre, update → 0/(post −
    * pre)) folded into the stale v1 aggregate — and the result must equal
    * the direct aggregate over v2, which is exactly what the oracle
    * computes. This is the contract that makes a CDC feed USABLE: the
    * deltas alone reconstruct any downstream rollup without rescanning
    * the table, including buckets the feed never touched (they pass
    * through from the stale side).
    *
    * Scale: apply cost is one O(changed)-row aggregate + an
    * O(buckets)-sized merge join — the same maintenance loop as q282's
    * MV refresh, but driven by the row-level feed rather than an
    * append-only increment, so it also handles updates and deletes.
    */
  private def q294(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = cdfEstate(s, d)
    val stale = VM.readAt(s, dir, 1)
      .groupBy((col("doc_id") % 8).as("bucket"))
      .agg(count(lit(1)).as("n0"), sum(col("n_chars")).as("c0"))
    val deltas = cdfFeed(s, d)
      .select((col("doc_id") % 8).as("bucket"),
        when(col("_change_type") === "insert", lit(1L))
          .when(col("_change_type") === "delete", lit(-1L))
          .otherwise(lit(0L)).as("dn"),
        (coalesce(col("post"), lit(0L)) - coalesce(col("pre"), lit(0L)))
          .as("dc"))
      .groupBy(col("bucket"))
      .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"),
        count(lit(1)).as("n_changes"))
    stale.join(deltas, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
        (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("total_chars"),
        coalesce(col("n_changes"), lit(0L)).as("n_changes"))
      .orderBy(col("bucket"))
  }

  private val q294Sql =
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 4
      |  UNION ALL
      |  SELECT doc_id, n_chars FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 5 = 1),
      |v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0),
      |chg AS (
      |  SELECT COALESCE(v1.doc_id, v2.doc_id) % 8 AS bucket
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |  WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
      |     OR v1.n_chars <> v2.n_chars)
      |SELECT b.bucket, CAST(b.n_docs AS BIGINT) AS n_docs,
      |  CAST(b.total_chars AS BIGINT) AS total_chars,
      |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_changes
      |FROM (SELECT doc_id % 8 AS bucket, COUNT(*) AS n_docs,
      |        SUM(n_chars) AS total_chars FROM v2 GROUP BY 1) b
      |LEFT JOIN (SELECT bucket, COUNT(*) AS n FROM chg GROUP BY 1) c
      |  ON b.bucket = c.bucket
      |ORDER BY b.bucket""".stripMargin

  // --------------------------------------------------------------- q291

  /** q291: TABLE HISTORY — the estate's `DESCRIBE HISTORY` surface: the
    * commit log of q284's optimistically-written table read back as a
    * relation (version, the operation string the writer recorded at
    * commit time, row count of that version's increment). The history is
    * the audit trail the conflict left behind — version 3's operation
    * string says "rebased", and the oracle pins all three rows exactly
    * (operations as literals, counts from the `o_orderkey % 3` map), so
    * a lost commit, a mis-addressed data dir, or a corrupted manifest
    * body all hash-mismatch.
    *
    * Scale: the listing is O(#versions) one-line manifest reads plus one
    * count per version — metadata traffic, never a table scan; the
    * driver-side loop is bounded by the log length by construction (the
    * same bound DESCRIBE HISTORY itself has).
    */
  private def q291(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    import s.implicits._
    val dir = occEstate(s, d)
    VM.committedVersions(s, dir)
      .map(n => (n, VM.describe(s, dir, n), VM.readAt(s, dir, n).count()))
      .toDF("version", "operation", "n_rows")
      .orderBy(col("version"))
  }

  private val q291Sql =
    """SELECT v.version, v.operation, CAST(c.n_rows AS BIGINT) AS n_rows
      |FROM (VALUES (CAST(1 AS BIGINT), 'base load'),
      |             (CAST(2 AS BIGINT), 'writer-a append'),
      |             (CAST(3 AS BIGINT), 'writer-b append (rebased)'))
      |  AS v(version, operation)
      |JOIN (SELECT CAST(CASE o_orderkey % 3 WHEN 0 THEN 1 WHEN 1 THEN 2
      |               ELSE 3 END AS BIGINT) AS version,
      |        COUNT(*) AS n_rows
      |      FROM orders GROUP BY 1) c ON v.version = c.version
      |ORDER BY v.version""".stripMargin

  // --------------------------------------------------------------- q292

  /** q292: SNAPSHOT ROLLBACK — reverting a bad publish without copying a
    * byte: the rollback COMMITS A NEW VERSION whose manifest `data=` line
    * points at the GOOD version's existing directory, so the table's
    * latest state is the old data again while the full history (including
    * the bad version, still time-travelable for forensics) is preserved.
    * This is Delta's RESTORE / Iceberg's rollback semantics: history is
    * append-only, state is a pointer. The staged sequence is v1 good
    * half-corpus, v2 bad full rewrite, v3 rollback→v1's dir; the query
    * reads LATEST and the oracle computes v1's slice directly, so a
    * rollback that copied, missed, or re-pointed wrong hash-mismatches.
    *
    * Scale: rollback cost is ONE manifest write regardless of table size
    * — the reason pointer-based formats can undo a 100 TB mistake in
    * milliseconds; vacuum's referenced-set walk keeps shared data dirs
    * alive as long as ANY committed version addresses them.
    */
  private def q292(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "rollback", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, "good load")
      docs.unionByName(docs)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      VM.commit(s, dir, 2, "bad rewrite (doubled rows)")
      // the rollback: one manifest write, zero data movement
      require(VM.tryCommit(s, dir, 3, "data=v=1\nrollback to version 1"),
        "rollback commit lost a race in a single-writer test")
    }
    val v = VM.latestCommitted(s, dir).get
    VM.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("current_version", lit(v))
      .orderBy(col("source"))
  }

  private val q292Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS current_version
      |FROM documents WHERE doc_id % 2 = 0
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q278

  /** The q278 bloom membership positions: 4 × 17-bit slices of the md5
    * fingerprint (5 hex chars each → `% 2^17`), shared by the manifest
    * builder and the probe side so they can never drift.
    */
  private[operators] def bloomBits(fpCol: String) =
    array((0 until 4).map { i =>
      expr(s"CAST(conv(substring($fpCol, ${1 + i * 5}, 5), 16, 10) AS BIGINT) % 131072")
    }: _*)

  /** Stage q278's layout once per (session, dataset): documents landed
    * into 16 files range-partitioned by doc_id, plus a per-file BLOOM
    * manifest over the doc fingerprint `md5('doc-'||doc_id)` — the
    * sorted set of 4-positions-per-row bits (m = 2^17, k = 4; ≤ 9.5%
    * fill at sf1 → per-probe false-positive rate ~1e-4). Returns the
    * staging root.
    */
  private val bloomDdl = "file STRING, bits ARRAY<BIGINT>"
  private[operators] def bloomLayout(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "bskip", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/data")
      Tables.parquet(s, s"$dir/data")
        .withColumn("md5col", Digest.docMd5)
        .select(input_file_name().as("file"),
          explode(bloomBits("md5col")).as("bit"))
        .groupBy(col("file"))
        .agg(sort_array(collect_set(col("bit"))).as("bits"))
        .coalesce(1)
        .write.mode("overwrite").json(s"$dir/bloom")
    }
    dir
  }

  /** q278: per-file BLOOM file skipping — the point-lookup face q251's
    * min/max manifest cannot serve: the layout is range-partitioned by
    * doc_id, but the lookup arrives by FINGERPRINT (`md5('doc-'||id)`),
    * which is uniform across files — every file's min/max fingerprint
    * spans the whole hex range, so range stats prune nothing. The per-file
    * bloom does: each probe's 4 bit positions are tested against each
    * file's bit set and only files where EVERY bit is present are read
    * (no false negatives by construction — the rollup hash-matches the
    * plain predicate; false positives only cost an extra file read).
    * Round10Spec pins that the bloom path reads a strict subset of the 16
    * files while the fingerprint min/max overlap ALL of them.
    *
    * Scale: this is Delta/Iceberg's bloom-filter index — O(files) manifest
    * rows consulted per lookup batch, O(hit files) data reads, index size
    * ~m bits per file regardless of row width. Driver materializes only
    * the probe keys (O(probes), here ≤ ~500 at sf1) and the 16-row
    * manifest.
    */
  private def q278(s: SparkSession, d: String): DataFrame = {
    val dir = bloomLayout(s, d)
    val probes = Tables.documents(s, d)
      .filter(col("doc_id") % 101 === 7)
      .withColumn("md5col", Digest.docMd5)
      .select(col("md5col").as("fp"), bloomBits("md5col").as("bits"))
      .collect() // bounded: O(probes) 4-long rows
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    val fps = probes.map(_._1).toSet
    val manifest = s.read.schema(bloomDdl).json(s"$dir/bloom")
      .select(col("file"), col("bits"))
      .collect() // bounded: one row per landed file (16)
      .map(r => (r.getString(0), r.getSeq[Long](1).toSet))
    val hitFiles = manifest.collect {
      case (f, bits) if probes.exists(_._2.forall(bits.contains)) => f
    }.toSeq
    Tables.parquet(s, hitFiles: _*)
      .withColumn("md5col", Digest.docMd5)
      .filter(col("md5col").isInCollection(fps))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val q278Sql =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id % 101 = 7 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q251

  /** q251: manifest MIN/MAX FILE SKIPPING — the data-skipping layer of a
    * table format (Iceberg's per-file column stats, Delta's
    * stats-in-log): the landing is range-laid-out on doc_id (16 files,
    * each a contiguous slice), a one-pass stats manifest records each
    * file's (min, max) doc_id, and a point-range read consults the
    * MANIFEST first — only files whose [min, max] intersects the
    * predicate are handed to Spark at all, everything else is skipped
    * before listing a single row group. The rollup over the pruned read
    * hash-matches the oracle's plain filter (skipping is an
    * optimization, never a semantics change); FileSkippingSpec pins that
    * the pruned file set is a strict subset.
    *
    * Scale: this is the difference between "open 100 TB of footers" and
    * "read one 16-row manifest" for a selective query — footer-level
    * min/max still costs one open per file; the manifest costs O(files)
    * rows ONCE at write time. The stats build is one partial agg keyed
    * by file; the 16-row collect of matching paths is bounded by the
    * manifest size, the same bound as q195's fixture listing.
    */
  private val fileStatsDdl = "file STRING, lo BIGINT, hi BIGINT"
  private def q251(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "skip", d)
    StagingDirs.once(dir) {
      Tables.documents(s, d)
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/data")
      Tables.parquet(s, s"$dir/data")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .coalesce(1)
        .write.mode("overwrite").json(s"$dir/filestats")
    }
    val (lo, hi) = (100L, 299L)
    // manifest consult: O(#files) rows, bounded collect of matching paths
    val files = s.read.schema(fileStatsDdl).json(s"$dir/filestats")
      .filter(col("hi") >= lo && col("lo") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    Tables.parquet(s, files: _*)
      .filter(col("doc_id").between(lo, hi))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  private val q251Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q315

  /** q315: INCREMENTAL JOIN-VIEW MAINTENANCE — the JOIN sibling of q282's
    * aggregate refresh: a materialized view over lineitem ⋈ orders
    * (revenue by order priority × return flag) stays fresh under appends
    * to BOTH base tables via the delta-join algebra (Blakeley et al.,
    * SIGMOD 1986; the rule differential/DBSP systems run continuously):
    *
    *   V_new = V_old  ∪agg  agg(ΔL ⋈ O_full)  ∪agg  agg(L_old ⋈ ΔO)
    *
    * The (old,old) pairs live in the STORED view — the staged estate
    * writes the stale MV as a parquet artifact and the refresh plan reads
    * it back, so no plan node ever joins the two old sides again. The two
    * delta legs broadcast their delta side (a landed batch, never the
    * table), and the exact-decimal partials merge by re-aggregation —
    * associativity is what makes the view maintainable. The oracle
    * computes the view DIRECTLY from the full join, so a missed pair
    * class, a double-counted (Δ,Δ) overlap, or a dropped new group is a
    * hash mismatch.
    *
    * Scale: refresh cost is O(|ΔL|·fanout + |ΔO|·matched + |MV|) — two
    * broadcast joins against big sides that stream map-side, and a
    * 15-row merge. The alternative the algebra replaces is a full
    * L ⋈ O rescan per landed batch, which at 100 TB is the difference
    * between minutes and a day. Round10Spec pins the plan: exactly two
    * joins, both broadcast-hash, and the stored-MV artifact among the
    * scanned paths.
    */
  private def q315(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "djv", d)
    def read(part: String) = Tables.parquet(s, s"$dir/$part")
    StagingDirs.once(dir) {
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      // independent append batches: 1/8 of each table arrives after the
      // view was last materialized (different residues, so every pair
      // class old×old, Δ×old, old×Δ, Δ×Δ is non-empty)
      ord.filter(col("o_orderkey") % 8 =!= 5).write.mode("overwrite")
        .parquet(s"$dir/ord_old")
      ord.filter(col("o_orderkey") % 8 === 5).write.mode("overwrite")
        .parquet(s"$dir/ord_delta")
      li.filter(col("l_orderkey") % 8 =!= 2).write.mode("overwrite")
        .parquet(s"$dir/li_old")
      li.filter(col("l_orderkey") % 8 === 2).write.mode("overwrite")
        .parquet(s"$dir/li_delta")
      // the stale MV: the (old, old) join materialized as decimal partials
      read("li_old").join(read("ord_old"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("prio"), col("l_returnflag").as("rflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(Exact.money(col("l_extendedprice"))).as("sdec"))
        .write.mode("overwrite").parquet(s"$dir/mv")
    }
    val ordFull = read("ord_old").unionByName(read("ord_delta"))
    def partials(li: DataFrame, ord: DataFrame, bcastLeft: Boolean): DataFrame = {
      val l = if (bcastLeft) broadcast(li) else li
      val o = if (bcastLeft) ord else broadcast(ord)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("prio"), col("l_returnflag").as("rflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(Exact.money(col("l_extendedprice"))).as("sdec"))
    }
    read("mv")
      .unionByName(partials(read("li_delta"), ordFull, bcastLeft = true))
      .unionByName(partials(read("li_old"), read("ord_delta"), bcastLeft = false))
      .groupBy(col("prio"), col("rflag"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sdec")).cast("double").as("sum_price"))
      .orderBy(col("prio"), col("rflag"))
  }

  private val q315Sql =
    """SELECT o_orderpriority AS prio, l_returnflag AS rflag,
      |  CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q348

  /** q348: ROW TRACKING ACROSS REWRITES — Delta's row-tracking / Iceberg's
    * row-lineage essence: the ingest commit assigns every row a stable
    * `row_id`, and table-maintenance rewrites (compaction q242, clustering
    * q344) must PRESERVE ids while freely moving rows between files. The
    * audit this query ships is the one a lineage-dependent consumer (CDC
    * materialization, incremental ML feature backfill, GDPR erasure
    * receipts q308) runs after every maintenance window: full-outer join
    * the pre- and post-rewrite snapshots ON row_id and count preserved /
    * lost / invented ids and payload drift — all four must come back
    * clean, per source. Version 2 re-clusters the same rows on a
    * DIFFERENT key (n_chars) with `dataChange=false`, so files change
    * completely while identity must not (Round11Spec pins that the
    * layout really moved).
    *
    * Scale: the audit is one row_id-keyed shuffle join of two snapshots —
    * O(live rows), the same cost class as the rewrite itself, and it
    * needs NO natural key: at 100 TB the payload often has none, which is
    * the whole reason engine-assigned stable ids exist.
    */
  private def q348(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vrowtrack", d)
    StagingDirs.once(dir) {
      // ingest: row ids assigned at commit time (the source cursor here;
      // an engine counter in general), payload carries NO natural key
      Tables.documents(s, d)
        .select(col("doc_id").as("row_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text")).as("payload_hash"))
        .repartition(8, col("source"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1,
        "ingest with row tracking (hash layout on source)")
      // maintenance: re-cluster on a different key — every file changes,
      // no row may
      graft.sources.VersionedManifest.readAt(s, dir, 1)
        .repartitionByRange(8, col("n_chars"), col("row_id"))
        .write.mode("overwrite").parquet(s"$dir/d-rt-rewrite")
      require(graft.sources.VersionedManifest.tryCommit(s, dir, 2,
        Seq("data=d-rt-rewrite", "dataChange=false",
          "rowTracking=preserved", "cluster rewrite: range on n_chars")
          .mkString("\n")),
        "row-tracking rewrite commit lost a race")
    }
    val M = graft.sources.VersionedManifest
    val v1 = M.readAt(s, dir, 1).select(col("row_id"), col("source"),
      col("payload_hash").as("h1"))
    val v2 = M.readAt(s, dir, 2).select(col("row_id"), col("source").as("s2"),
      col("payload_hash").as("h2"))
    v1.join(v2, Seq("row_id"), "full_outer")
      .select(coalesce(col("source"), col("s2")).as("source"),
        col("h1"), col("h2"))
      .groupBy(col("source"))
      .agg(
        count(when(col("h1").isNotNull, 1)).as("n_rows"),
        count(when(col("h1") === col("h2"), 1)).as("n_preserved"),
        count(when(col("h2").isNull, 1)).as("n_lost"),
        count(when(col("h1").isNull, 1)).as("n_invented"))
      .orderBy(col("source"))
  }

  private val q348Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_preserved,
      |  CAST(0 AS BIGINT) AS n_lost, CAST(0 AS BIGINT) AS n_invented
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q349

  /** q349: BRANCH-AND-PUBLISH — the experimentation workflow Iceberg
    * branches / Git-for-data give a curation estate: experimental
    * versions land on the `exp` branch (each advance is a CAS on the
    * branch's own OCC log, [[graft.sources.VersionedManifest.advanceBranch]]),
    * readers of `main` keep seeing the blessed version, and only after
    * the audit clears does ONE pointer advance fast-forward `main` to the
    * vetted head — versions that failed the gate (the over-aggressive
    * n_chars ≥ 400 cut here, rejected for shrinking the corpus past the
    * 50% floor) stay addressable on `exp`'s history but are never
    * publishable to `main` readers. The query renders both branches'
    * full pointer logs joined to each pointed version's rollup — the
    * audit trail a data-release review actually reads.
    *
    * Scale: branch creation/advance are O(1) tiny-file pointer ops
    * against any table size (the q292/q339 discipline); the rollups read
    * each version once. The CAS log means concurrent experimenters
    * serialize without a lock service — the loser rebases, exactly like
    * writers racing tryCommit.
    */
  private def q349(s: SparkSession, d: String): DataFrame = {
    val root = StagingDirs.dir(s, "vbranch", d)
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "raw corpus")
      M.createBranch(s, dir, "main", 1)
      M.createBranch(s, dir, "exp", 1)
      // experiment 1: aggressive length cut — lands on exp only
      docs.filter(col("n_chars") >= 400)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      M.commit(s, dir, 2, "exp: n_chars >= 400")
      require(M.advanceBranch(s, dir, "exp", 0, 2), "exp advance lost a race")
      // audit: the cut keeps < 50% of the corpus — REFUSE to publish
      val total = M.readAt(s, dir, 1).count()
      require(M.readAt(s, dir, 2).count() * 2 < total,
        "fixture drift: the aggressive cut was expected to fail the floor")
      // experiment 2: moderate cut — passes the floor
      docs.filter(col("n_chars") >= 100)
        .write.mode("overwrite").parquet(s"$dir/v=3")
      M.commit(s, dir, 3, "exp: n_chars >= 100")
      require(M.advanceBranch(s, dir, "exp", 1, 3), "exp advance lost a race")
      require(M.readAt(s, dir, 3).count() * 2 >= total, "audit failed")
      // the publish: ONE pointer advance, main 1 -> 3 (never saw v2)
      require(M.advanceBranch(s, dir, "main", 0, 3), "publish lost a race")
    }
    import s.implicits._
    val log = (M.branchLog(s, dir, "main").map { case (q, v) => ("main", q, v) }
      ++ M.branchLog(s, dir, "exp").map { case (q, v) => ("exp", q, v) })
      .toDF("ref", "seq", "version")
    val versions = M.committedVersions(s, dir)
    val rollups = versions.map { v =>
      M.readAt(s, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
    }.reduce(_ unionByName _)
    log.join(broadcast(rollups), "version")
      .select(col("ref"), col("seq"), col("version"),
        col("n_docs"), col("total_chars"))
      .orderBy(col("ref"), col("seq"))
  }

  private val q349Sql =
    """WITH rollup AS (
      |  SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
      |  UNION ALL
      |  SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |  FROM documents WHERE n_chars >= 400
      |  UNION ALL
      |  SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |  FROM documents WHERE n_chars >= 100),
      |log AS (
      |  SELECT 'main' AS ref, CAST(0 AS BIGINT) AS seq, CAST(1 AS BIGINT) AS version
      |  UNION ALL SELECT 'main', 1, 3
      |  UNION ALL SELECT 'exp', 0, 1
      |  UNION ALL SELECT 'exp', 1, 2
      |  UNION ALL SELECT 'exp', 2, 3)
      |SELECT l.ref, l.seq, l.version, r.n_docs, r.total_chars
      |FROM log l JOIN rollup r ON l.version = r.version
      |ORDER BY l.ref, l.seq""".stripMargin

  // --------------------------------------------------------------- q350

  /** q350: BITEMPORAL AS-OF — the two-clock lookup a restatement-prone
    * estate needs (Snodgrass's bitemporal model; SQL:2011 system +
    * application time): VALID time is the rate card's applicability
    * interval, TRANSACTION time is the versioned table's commit history
    * — "what rate did we APPLY to this order when we billed it (v1), and
    * what SHOULD it have been after the restatement (v2)". Version 2
    * restates one (region, year) cell; the query as-of joins the order
    * sample into BOTH transaction-time snapshots along valid time and
    * returns exactly the orders whose applied rate changed — the
    * restatement's blast radius, which is what the finance/compliance
    * consumer actually asks for.
    *
    * Scale: the rate card is O(regions × years) and BROADCASTS to both
    * interval joins; the fact sample streams once per snapshot and the
    * diff joins on orderkey. Snapshots are manifest-addressed (q250), so
    * both transaction times read without copying anything. At 100 TB the
    * dim stays broadcast-sized by construction — rate cards grow with
    * entities × time, not with facts.
    */
  private def q350(s: SparkSession, d: String): DataFrame = {
    val dir = StagingDirs.dir(s, "vbitemp", d)
    val M = graft.sources.VersionedManifest
    StagingDirs.once(dir) {
      // rate card: per (region, fiscal year starting Mar-15), in basis
      // points — exact integers end to end
      val base = Tables.region(s, d)
        .select(col("r_regionkey"))
        .withColumn("fy", explode(expr("sequence(1995, 2001)")))
        .select(col("r_regionkey"), col("fy"),
          expr("to_date(concat(fy, '-03-15'))").as("valid_from"),
          expr("to_date(concat(fy + 1, '-03-15'))").as("valid_to"),
          ((col("r_regionkey") + 1) * 100 + (col("fy") - 1995) * 10)
            .cast(LongType).as("rate_bp"))
      base.coalesce(1).write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "rate card as billed")
      // the restatement: region 2, FY1997 — one cell changes
      base.withColumn("rate_bp",
        when(col("r_regionkey") === 2 && col("fy") === 1997,
          col("rate_bp") + 55).otherwise(col("rate_bp")))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=2")
      M.commit(s, dir, 2, "restatement: region 2 FY1997 +55bp")
    }
    val facts = Tables.orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("n_regionkey"))
    def applied(v: Long, out: String) = facts.join(
      broadcast(M.readAt(s, dir, v)),
      col("n_regionkey") === col("r_regionkey") &&
        col("o_orderdate") >= col("valid_from") &&
        col("o_orderdate") < col("valid_to"))
      .select(col("o_orderkey"), col("o_orderdate"), col("n_regionkey"),
        col("rate_bp").as(out))
    applied(1, "rate_billed")
      .join(applied(2, "rate_restated")
        .select(col("o_orderkey"), col("rate_restated")), "o_orderkey")
      .filter(col("rate_billed") =!= col("rate_restated"))
      .select(col("o_orderkey"), col("o_orderdate"),
        col("n_regionkey").cast(LongType).as("regionkey"),
        col("rate_billed"), col("rate_restated"))
      .orderBy(col("o_orderkey"))
  }

  private val q350Sql =
    """WITH facts AS (
      |  SELECT o.o_orderkey, o.o_orderdate, n.n_regionkey
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE o.o_orderkey % 11 = 0),
      |card AS (
      |  SELECT r.r_regionkey, fy,
      |    make_date(fy, 3, 15) AS valid_from,
      |    make_date(fy + 1, 3, 15) AS valid_to,
      |    CAST((r.r_regionkey + 1) * 100 + (fy - 1995) * 10 AS BIGINT) AS rate_bp
      |  FROM region r, (SELECT unnest(range(1995, 2002)) AS fy)),
      |billed AS (
      |  SELECT f.o_orderkey, f.o_orderdate, f.n_regionkey, c.rate_bp AS rate_billed
      |  FROM facts f JOIN card c ON f.n_regionkey = c.r_regionkey
      |    AND f.o_orderdate >= c.valid_from AND f.o_orderdate < c.valid_to),
      |restated AS (
      |  SELECT f.o_orderkey,
      |    c.rate_bp + (CASE WHEN c.r_regionkey = 2 AND c.fy = 1997
      |                 THEN 55 ELSE 0 END) AS rate_restated
      |  FROM facts f JOIN card c ON f.n_regionkey = c.r_regionkey
      |    AND f.o_orderdate >= c.valid_from AND f.o_orderdate < c.valid_to)
      |SELECT b.o_orderkey, b.o_orderdate,
      |  CAST(b.n_regionkey AS BIGINT) AS regionkey,
      |  b.rate_billed, r.rate_restated
      |FROM billed b JOIN restated r ON b.o_orderkey = r.o_orderkey
      |WHERE b.rate_billed <> r.rate_restated
      |ORDER BY b.o_orderkey""".stripMargin

  // --------------------------------------------------------------- q353

  /** q353: SKEW-SALT PLANNING + the salted two-phase aggregate it feeds —
    * the static face of skew handling (q46 demonstrates a fixed salt;
    * q260's AQE splits JOIN partitions at runtime, but a skewed GROUP BY
    * key still lands on one reducer unless the plan re-keys it). Phase 0
    * builds the key histogram and derives each key's salt factor from
    * the planning rule `salt_k = ⌈n_k · P / total⌉` (P = 32, the target
    * parallelism): a key carrying 6× the per-partition budget gets 6+
    * slices. Phases 1–2 run the aggregation UNDER the plan — partial by
    * (key, deterministic md5 slot mod salt), final by key — and the
    * output carries the plan (salt), its realization (slices used, max
    * slice rows: the bound a reducer actually sees), and the totals,
    * which hash-match a direct single-phase oracle: the rewrite provably
    * changes the shuffle shape, never the answer.
    *
    * Scale: the histogram is a tiny map-side-combinable agg broadcast
    * back as the plan; both phases stay combinable (count/decimal-sum),
    * so the heavy key's rows split across salt reducers and each final
    * group folds ≤ salt partials. At 100 TB this is the difference
    * between one 3 TB reducer and 32 × 100 GB ones.
    */
  private def q353(s: SparkSession, d: String): DataFrame = {
    val P = 32L
    val ev = Tables.events(s, d)
    val hist = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("total"))))
      .select(col("event_type"), col("n_events"),
        greatest(lit(1L),
          expr(s"(n_events * $P + total - 1) div total")).as("salt"))
    val partials = ev.join(broadcast(hist), "event_type")
      .withColumn("slot",
        Digest.bucket(Digest.salted("salt-", col("event_id")), 1, 8) % col("salt"))
      .groupBy(col("event_type"), col("slot"))
      .agg(count(lit(1)).as("pn"), sum(Exact.money(col("value"))).as("pv"))
    partials
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).cast(LongType).as("n_events"),
        count(lit(1)).as("n_slices"),
        max(col("pn")).as("max_slice"),
        sum(col("pv")).cast(org.apache.spark.sql.types.DoubleType)
          .as("total_value"))
      .join(broadcast(hist.select(col("event_type"), col("salt"))),
        "event_type")
      .select(col("event_type"), col("n_events"), col("salt"),
        col("n_slices"), col("max_slice"), col("total_value"))
      .orderBy(col("event_type"))
  }

  private val q353Sql = {
    val hex8 = Exact.sqlHexToLong("md5('salt-' || event_id)", 1, 8)
    s"""WITH hist AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    GREATEST(1, (COUNT(*) * 32 + (SELECT COUNT(*) FROM events) - 1)
       |      // (SELECT COUNT(*) FROM events)) AS salt
       |  FROM events GROUP BY 1),
       |partials AS (
       |  SELECT e.event_type, ($hex8) % h.salt AS slot,
       |    CAST(COUNT(*) AS BIGINT) AS pn,
       |    SUM(CAST(e.value AS DECIMAL(18,2))) AS pv
       |  FROM events e JOIN hist h ON e.event_type = h.event_type
       |  GROUP BY 1, 2)
       |SELECT p.event_type,
       |  CAST(SUM(p.pn) AS BIGINT) AS n_events,
       |  CAST(h.salt AS BIGINT) AS salt,
       |  CAST(COUNT(*) AS BIGINT) AS n_slices,
       |  CAST(MAX(p.pn) AS BIGINT) AS max_slice,
       |  CAST(SUM(p.pv) AS DOUBLE) AS total_value
       |FROM partials p JOIN hist h ON p.event_type = h.event_type
       |GROUP BY p.event_type, h.salt ORDER BY p.event_type""".stripMargin
  }

  // --------------------------------------------------------------- q354

  /** q354: SQL BRANCH READS — `VERSION AS OF '<branch>'` resolves through
    * the branch HEAD (the mutable pointer q349 publishes with), alongside
    * the immutable tag spelling q339 established: `'blessed'` is a branch
    * deliberately LEFT at version 1 while `'main'` fast-forwarded to the
    * curated version 2, so the two name-addressed reads return different
    * corpora from the same table — the SQL surface of the
    * experiment/publish split, with tags shadowing branches on a name
    * clash (the citation must never start moving; Round11Spec pins the
    * shadowing and the unknown-name refusal). Consumers address
    * `VERSION AS OF 'main'` and follow every publish without query edits.
    *
    * Scale: name resolution is one tiny-file read on top of q321's
    * version resolution — O(1) against table size.
    */
  private def q354(s: SparkSession, d: String): DataFrame = {
    val root = StagingDirs.dir(s, "vsqlbr", d)
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "raw corpus")
      M.createBranch(s, dir, "blessed", 1)
      M.createBranch(s, dir, "main", 1)
      docs.filter(col("lang") =!= "zh")
        .write.mode("overwrite").parquet(s"$dir/v=2")
      M.commit(s, dir, 2, "curated: zh routed to its own corpus")
      require(M.advanceBranch(s, dir, "main", 0, 2), "publish lost a race")
    }
    val cat = VersionedCatalog.mount(s, "g354_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    s.sql(
      s"""SELECT ref, n_docs, total_chars FROM (
         |  SELECT 'blessed' AS ref, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM $cat.tables.corpus VERSION AS OF 'blessed'
         |  UNION ALL
         |  SELECT 'main', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(n_chars) AS BIGINT)
         |  FROM $cat.tables.corpus VERSION AS OF 'main')
         |ORDER BY ref""".stripMargin)
  }

  private val q354Sql =
    """SELECT ref, n_docs, total_chars FROM (
      |  SELECT 'blessed' AS ref, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
      |  UNION ALL
      |  SELECT 'main', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |  FROM documents WHERE lang <> 'zh')
      |ORDER BY ref""".stripMargin

  // --------------------------------------------------------------- q355

  /** q355: SNAPSHOT EXPIRY — the retention half of the estate lifecycle
    * (Iceberg expire_snapshots / Delta VACUUM-with-retention): history
    * older than the retention window retires, EXCEPT versions a ref still
    * names — the tagged release stays readable forever (the citation
    * contract, q339), the newest version survives as the table, and
    * cumulative manifests keep every data dir a SURVIVOR references (an
    * old append dir usually lives inside newer snapshots — expiry must
    * reclaim only what became unreachable). Time travel to an expired
    * version refuses exactly like an uncommitted one (Round11Spec walks
    * the refusal plus the crash-ordering: manifest first, data second).
    * The rollup reads the tagged release and the head side by side —
    * both must survive the purge bit-identically.
    *
    * Scale: O(#versions + #refs) pointer work; data deletion touches only
    * unreachable dirs — the storage the op exists to reclaim. At 100 TB
    * this is the nightly job that keeps manifest listing O(window), not
    * O(forever).
    */
  private def q355(s: SparkSession, d: String): DataFrame = {
    val root = StagingDirs.dir(s, "vexpire", d)
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      // four cumulative append versions: src0, +src1, +src2, +src3
      (1 to 4).foreach { v =>
        docs.filter(col("source") === s"src${v - 1}")
          .write.mode("overwrite").parquet(s"$dir/d-b$v")
        val dirs = (1 to v).map(i => s"data=d-b$i")
        M.commit(s, dir, v, (dirs :+ s"append src${v - 1}").mkString("\n"))
      }
      M.tag(s, dir, "release-x", 2)
      // compact the head so the old append dirs become reclaimable: the
      // surviving snapshots (head v5, tagged v2) reference d-compact and
      // d-b1/d-b2 — expiry may then really delete d-b3/d-b4
      M.readAt(s, dir, 4).repartition(4)
        .write.mode("overwrite").parquet(s"$dir/d-compact")
      M.commit(s, dir, 5,
        "data=d-compact\ndataChange=false\ncompaction of 1..4")
      val expired = M.expireSnapshots(s, dir, keepLast = 1)
      require(expired == Seq(1L, 3L, 4L),
        s"expected versions 1, 3, 4 to expire, got $expired")
    }
    val cat = VersionedCatalog.mount(s, "g355_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    s.sql(
      s"""SELECT ref, n_docs, total_chars FROM (
         |  SELECT 'head' AS ref, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM $cat.tables.corpus
         |  UNION ALL
         |  SELECT 'release-x', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(n_chars) AS BIGINT)
         |  FROM $cat.tables.corpus VERSION AS OF 'release-x')
         |ORDER BY ref""".stripMargin)
  }

  private val q355Sql =
    """SELECT ref, n_docs, total_chars FROM (
      |  SELECT 'head' AS ref, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
      |  WHERE source IN ('src0', 'src1', 'src2', 'src3')
      |  UNION ALL
      |  SELECT 'release-x', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |  FROM documents WHERE source IN ('src0', 'src1'))
      |ORDER BY ref""".stripMargin

  // --------------------------------------------------------------- q358

  /** q358: THE ESTATE CONTROL PLANE IN SQL — branch creation, publish,
    * and retention as stored procedures (`CALL <cat>.sys.create_branch /
    * fast_forward / expire_snapshots`, joining q330's rollback): the
    * whole release cycle an on-call data engineer runs — land versions,
    * branch at the blessed one, fast-forward after the audit, expire the
    * stale history — without leaving SQL. Each CALL returns a receipt
    * (the fast-forward's carries from/to/seq; the expiry's one row per
    * retired version — staged require()s pin all three), and the final
    * state reads back through the same catalog: head, branch head, and
    * the post-expiry `.history` count. fast_forward retries a lost CAS
    * by rebasing on the new head, exactly like writers racing tryCommit.
    *
    * Scale: every CALL is pointer work — O(1) tiny files for branch ops,
    * O(#versions + #refs) for expiry — regardless of table size.
    */
  private def q358(s: SparkSession, d: String): DataFrame = {
    val root = StagingDirs.dir(s, "vsqlproc", d)
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    val cat = VersionedCatalog.mount(s, "g358_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      (1 to 3).foreach { v =>
        docs.filter(col("doc_id") % 3 === (v - 1))
          .write.mode("overwrite").parquet(s"$dir/d-b$v")
        M.commit(s, dir,
          v, ((1 to v).map(i => s"data=d-b$i") :+ s"slice $v").mkString("\n"))
      }
      val cb = s.sql(s"CALL $cat.sys.create_branch('corpus', 'main', 2)").head()
      require(cb.getString(1) == "main" && cb.getLong(2) == 2L, s"bad receipt $cb")
      val ff = s.sql(s"CALL $cat.sys.fast_forward('corpus', 'main', 3)").head()
      require(ff.getLong(2) == 2L && ff.getLong(3) == 3L && ff.getLong(4) == 1L,
        s"bad fast-forward receipt $ff")
      val ex = s.sql(s"CALL $cat.sys.expire_snapshots('corpus', 1)").collect()
      require(ex.map(_.getLong(1)).toSeq == Seq(1L, 2L),
        s"expected versions 1,2 expired, got ${ex.mkString(",")}")
    }
    s.sql(
      s"""SELECT step, n FROM (
         |  SELECT 'head_docs' AS step, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM $cat.tables.corpus
         |  UNION ALL
         |  SELECT 'main_docs', CAST(COUNT(*) AS BIGINT)
         |  FROM $cat.tables.corpus VERSION AS OF 'main'
         |  UNION ALL
         |  SELECT 'live_versions', CAST(COUNT(*) AS BIGINT)
         |  FROM $cat.tables.corpus.history)
         |ORDER BY step""".stripMargin)
  }

  private val q358Sql =
    """SELECT step, n FROM (
      |  SELECT 'head_docs' AS step, CAST(COUNT(*) AS BIGINT) AS n FROM documents
      |  UNION ALL
      |  SELECT 'main_docs', CAST(COUNT(*) AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT 'live_versions', CAST(1 AS BIGINT))
      |ORDER BY step""".stripMargin

  // --------------------------------------------------------------- q363

  /** q363: DECLARED TABLE CONSTRAINTS — the versioned table's CHECK
    * rules as PERSISTED METADATA (Delta's `ALTER TABLE ADD CONSTRAINT`
    * essence), not a caller-supplied closure (that is q322's audit
    * gate): `constraint=<name>:<predicate>` lines ride every manifest
    * body, ADD CONSTRAINT validates the whole current snapshot before
    * activating (a violated history refuses with the offending count and
    * publishes nothing), and from then on EVERY append is checked by the
    * table itself — `commitConstrained` refuses the batch (no manifest
    * rename, staged dir left a vacuumable orphan) when any declared
    * predicate fails on the increment. The estate walks all four arms:
    * two constraints activate (each a metadata-only version, the
    * snapshot unchanged), one alter refuses on history, one append
    * publishes, one append is refused; the rollup reads the final
    * snapshot per source and carries the refusal evidence, so a
    * constraint that silently failed to block (or blocked the good
    * batch) hash-mismatches the oracle.
    *
    * Scale: ADD CONSTRAINT costs one aggregate scan of the snapshot
    * (activation time, once); enforcement costs one aggregate pass over
    * the INCREMENT only — constraints are row-local predicates and every
    * visible row was validated at its own publish, so the append path
    * stays O(batch) at any table size. All constraints fold in a single
    * `sum(CASE …)` aggregate (map-side combinable, one job per batch,
    * O(#constraints) driver rows).
    */
  private def constraintEstate(s: SparkSession, d: String): (String, Long, Long) = {
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "constr", d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    StagingDirs.once(dir) {
      docs.filter(col("doc_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "initial load")
      require(M.addConstraint(s, dir, "chars_positive", "n_chars >= 0") ==
        Right(2L), "chars_positive must activate as v2")
      require(M.addConstraint(s, dir, "id_even", "doc_id % 2 = 0") ==
        Right(3L), "id_even must activate as v3")
      // history violates (long docs exist) → refusal, nothing published
      M.addConstraint(s, dir, "short_docs", "n_chars < 100") match {
        case Left(c) if c > 0 => ()
        case other => throw new IllegalStateException(
          s"short_docs must refuse on history, got $other")
      }
      // good append: even ids only — passes both declared constraints
      docs.filter(col("doc_id") % 4 === 2)
        .write.mode("overwrite").parquet(s"$dir/v=4")
      require(M.commitConstrained(s, dir, 4, "append evens").isEmpty,
        "clean append must publish")
      // bad append: odd ids violate id_even → refused, v=5 stays orphan
      docs.filter(col("doc_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$dir/v=5")
      require(M.commitConstrained(s, dir, 5, "append odds").nonEmpty,
        "violating append must refuse")
    }
    // evidence re-exercises BOTH refusal paths every run (the staged
    // inputs are immutable), so a broken gate can't hide behind the
    // staging cache: a wrongly-accepted alter/append would publish a
    // version and shift latest_version/n_constraints off the oracle
    val alterRefused = M.addConstraint(s, dir,
      s"short_docs_${java.util.UUID.randomUUID.toString.take(8)}",
      "n_chars < 100").left.getOrElse(0L)
    val appendRefused = M.commitConstrained(s, dir, 5, "append odds (retry)")
      .map(_.split(" violated by ")(1).split(" ")(0).toLong).sum
    (dir, alterRefused, appendRefused)
  }

  private def q363(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val (dir, alterRefused, appendRefused) = constraintEstate(s, d)
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    val nConstraints = M.constraints(s, dir).size.toLong
    val evidence = Seq((latest, nConstraints, alterRefused, appendRefused))
      .toDF("latest_version", "n_constraints", "alter_refused_rows",
        "append_refused_rows")
    M.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q363Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(4 AS BIGINT) AS latest_version,
      |  CAST(2 AS BIGINT) AS n_constraints,
      |  CAST((SELECT COUNT(*) FROM documents
      |        WHERE doc_id % 2 = 0 AND NOT (n_chars < 100))
      |    AS BIGINT) AS alter_refused_rows,
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 1)
      |    AS BIGINT) AS append_refused_rows
      |FROM documents WHERE doc_id % 2 = 0
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q366

  /** q366: COPY-ON-WRITE MERGE into the versioned table — the upsert a
    * corpus refresh runs ("these documents were re-crawled, these are
    * new") as a TABLE-FORMAT operation (`VersionedManifest.merge`):
    * source rows replace snapshot rows sharing the key and append
    * otherwise, the rewrite touches ONLY the affected data dirs (one
    * semi-join pass finds them; Iceberg's COW at this format's
    * dir granularity), and the published manifest re-addresses every
    * untouched dir byte-for-byte. The estate lands two dirs (base +
    * append), then merges updates hitting only the BASE dir plus a
    * fresh insert slice: the append dir must survive unrewritten
    * (evidence column derived from the committed manifests — the v3/v2
    * dir intersection), time travel to the pre-merge snapshot stays
    * intact, and the final rollup hash-matches the oracle's replay of
    * the upsert semantics.
    *
    * Scale: merge cost is O(affected dirs + source), never O(table) —
    * the append-heavy estate (thousands of landed dirs, updates
    * clustered in a few) rewrites exactly the dirs it must; duplicate
    * source keys refuse up front (the MERGE cardinality rule); a lost
    * publish race throws for an OCC rebase (q284's contract).
    */
  private def mergeEstate(s: SparkSession, d: String): String = {
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "merge", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir/d-a")
      M.commit(s, dir, 1, "data=d-a\nbase load")
      docs.filter(col("doc_id") % 3 === 1)
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2, "data=d-a\ndata=d-b\nappend")
      // updates hit only d-a (%6==0 ⊂ %3==0); inserts are brand-new keys
      val src = docs.filter(col("doc_id") % 6 === 0)
        .withColumn("n_chars", col("n_chars") + 5000)
        .unionByName(docs.filter(col("doc_id") % 15 === 2))
      val (v, affected, untouched) = M.merge(s, dir, src, "doc_id")
      require(v == 3L && affected.size == 1 && untouched.size == 1 &&
        affected.head.endsWith("d-a") && untouched.head.endsWith("d-b"),
        s"merge must rewrite exactly d-a: v=$v aff=$affected unt=$untouched")
    }
    dir
  }

  private def q366(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val dir = mergeEstate(s, d)
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    val nowDirs = M.resolveDataDirs(s, dir, latest)
    val untouched = nowDirs.toSet
      .intersect(M.resolveDataDirs(s, dir, latest - 1).toSet)
    val evidence = Seq((latest, nowDirs.size.toLong, untouched.size.toLong))
      .toDF("latest_version", "n_dirs", "n_untouched_dirs")
    M.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q366Sql =
    """WITH final AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 6 = 0 THEN n_chars + 5000 ELSE n_chars END
      |      AS n_chars
      |  FROM documents WHERE doc_id % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 15 = 2)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  CAST(2 AS BIGINT) AS n_dirs,
      |  CAST(1 AS BIGINT) AS n_untouched_dirs
      |FROM final GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q369

  /** q369: Z-ORDER CLUSTERING — the MULTI-dimensional upgrade of q344's
    * single-column range rewrite (Delta `OPTIMIZE ZORDER BY (a, b)`
    * reduced to the essence): both columns bucket to 8 bits by min-max
    * scaling, the buckets' bits INTERLEAVE into one z-value, and a
    * range-repartition on z gives every file a tight bounding BOX in
    * (doc_id, n_chars) space — so the manifest's column-namespaced stats
    * (`colstats=`, new with this query) prune selective probes on EITHER
    * column from one layout. The contrast is the point: the v1 layout is
    * range-clustered on doc_id ALONE — perfect for doc_id probes, BLIND
    * for n_chars probes (every file's [min,max] admits everything, the
    * q344 failure mode on the second column). The rollup reads the
    * n_chars probe THROUGH the z-order pruned file set (a wrongly
    * pruned file loses rows and hash-mismatches) and carries the three
    * pruning claims as oracle-pinned booleans; Round11Spec pins the
    * strict file-count inequality.
    *
    * Scale: the rewrite streams the snapshot once (one range exchange on
    * z); every later probe on either clustered column pays O(matching
    * files) forever — at 100 TB, the difference between "the n_chars
    * probe reads 6% of files" and "reads all of them". Published
    * `dataChange=false`: subscribers skip it, time travel to the
    * doc_id-clustered layout intact.
    */
  private def zorderEstate(s: SparkSession, d: String): String = {
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "zorder", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      // v1: the single-column answer — range layout on doc_id only
      docs.repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1,
        ("range layout on doc_id" +:
          (M.fileStatsOn(s, s"$dir/v=1", "doc_id") ++
            M.fileStatsOn(s, s"$dir/v=1", "n_chars"))).mkString("\n"))
      // v2: Z-order rewrite — same rows, interleaved-bit layout
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        min(col("n_chars")), max(col("n_chars"))).head()
      val (aLo, aHi, bLo, bHi) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val bucketA = s"(((doc_id - ${aLo}L) * 256L) div ${aHi - aLo + 1}L)"
      val bucketB = s"(((n_chars - ${bLo}L) * 256L) div ${bHi - bLo + 1}L)"
      val z = (0 until 8).map(i =>
        s"(shiftleft(($bucketA >> $i) & 1, ${2 * i + 1}) + " +
          s"shiftleft(($bucketB >> $i) & 1, ${2 * i}))").mkString(" + ")
      M.readAt(s, dir, 1).withColumn("_z", expr(z))
        .repartitionByRange(16, col("_z")).drop("_z")
        .write.mode("overwrite").parquet(s"$dir/d-zorder")
      require(M.tryCommit(s, dir, 2,
        (Seq("data=d-zorder", "dataChange=false",
          "cluster rewrite: zorder on (doc_id, n_chars)") ++
          M.fileStatsOn(s, s"$dir/d-zorder", "doc_id") ++
          M.fileStatsOn(s, s"$dir/d-zorder", "n_chars")).mkString("\n")),
        "z-order rewrite commit lost a race")
    }
    dir
  }

  private def q369(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val dir = zorderEstate(s, d)
    val maxId = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
    // two ~10% probes: one per clustered column
    val (aLo, aHi) = (maxId * 3 / 10, maxId * 4 / 10)
    val (cLo, cHi) = (200L, 260L)
    def admitted(v: Long, c: String, lo: Long, hi: Long) =
      M.prunedFilesOn(s, dir, v, c, lo, hi).size.toLong
    val total = M.prunedFilesOn(s, dir, 2, "doc_id", Long.MinValue,
      Long.MaxValue).size.toLong
    val evidence = Seq((
      admitted(1, "n_chars", cLo, cHi) == total, // range layout: blind
      admitted(2, "n_chars", cLo, cHi) < total, // z-order: prunes chars
      admitted(2, "doc_id", aLo, aHi) < total // z-order: still prunes ids
    )).toDF("range_blind_chars", "zorder_prunes_chars", "zorder_prunes_id")
    Tables.parquet(s, M.prunedFilesOn(s, dir, 2, "n_chars", cLo, cHi): _*)
      .filter(col("n_chars").between(cLo, cHi))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("lang"))
  }

  private val q369Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  TRUE AS range_blind_chars,
      |  TRUE AS zorder_prunes_chars,
      |  TRUE AS zorder_prunes_id
      |FROM documents WHERE n_chars BETWEEN 200 AND 260
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q370

  /** q370: SQL MERGE PROCEDURE — q366's copy-on-write upsert reached the
    * way a SQL-only client reaches it: `CALL <cat>.sys.merge(table,
    * source_view, key)` (the stored-procedure merge spelling estates
    * expose where full MERGE INTO isn't wired), source staged as a temp
    * view, receipt carrying the published version AND the affected/
    * untouched dir split — the caller SEES the merge rewrote one dir of
    * two. The whole incident flow is SQL end to end: stage view → CALL →
    * SELECT the merged table back through the same catalog; evidence
    * columns re-derive from the committed manifests each run (the q366
    * discipline — a broken receipt can't hide behind the staging cache),
    * and the rollup hash-matches the oracle's replay of the upsert.
    *
    * Scale: identical to q366 — O(affected dirs + source); the CALL adds
    * one receipt row. Duplicate-key refusal, constraint validation, and
    * OCC rebase all ride along from `VersionedManifest.merge`.
    */
  private def q370(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val root = StagingDirs.dir(s, "sqlmerge", d)
    val dir = s"$root/corpus"
    val cat = VersionedCatalog.mount(s, "g370_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    StagingDirs.once(root) {
      docs.filter(col("doc_id") % 4 === 0)
        .write.mode("overwrite").parquet(s"$dir/d-b1")
      M.commit(s, dir, 1, "data=d-b1\nbase")
      docs.filter(col("doc_id") % 4 === 2)
        .write.mode("overwrite").parquet(s"$dir/d-b2")
      M.commit(s, dir, 2, "data=d-b1\ndata=d-b2\nappend")
      docs.filter(col("doc_id") % 8 === 0)
        .withColumn("n_chars", col("n_chars") + 7000)
        .unionByName(docs.filter(col("doc_id") % 4 === 1))
        .createOrReplaceTempView("g370_src")
      val r = s.sql(s"CALL $cat.sys.merge('corpus', 'g370_src', 'doc_id')")
        .head()
      require(r.getLong(2) == 3L && r.getLong(3) == 1L && r.getLong(4) == 1L,
        s"merge receipt must be (v3, 1 affected, 1 untouched): $r")
    }
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    val untouched = M.resolveDataDirs(s, dir, latest).toSet
      .intersect(M.resolveDataDirs(s, dir, latest - 1).toSet)
    val evidence = Seq((latest, untouched.size.toLong))
      .toDF("latest_version", "n_untouched_dirs")
    s.sql(
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM $cat.tables.corpus
         |GROUP BY lang""".stripMargin)
      .crossJoin(broadcast(evidence))
      .orderBy(col("lang"))
  }

  private val q370Sql =
    """WITH final AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 8 = 0 THEN n_chars + 7000 ELSE n_chars END
      |      AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 4 = 1)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  CAST(1 AS BIGINT) AS n_untouched_dirs
      |FROM final GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q371

  /** q371: ERASURE vs TIME TRAVEL — the compliance tension every
    * versioned estate must resolve (q308 erases from PLAIN tables; a
    * versioned table's old snapshots can RESURRECT the erased rows):
    * the full right-to-be-forgotten flow is COW DELETE
    * (`VersionedManifest.deleteWhere` — only dirs containing forget-list
    * rows rewrite, q366's granularity) followed by SNAPSHOT EXPIRY +
    * VACUUM, which retire every manifest that could still address the
    * old bytes and reclaim the dirs only those manifests referenced.
    * The estate proves each phase: pre-erasure time travel WORKS (the
    * baseline the regulator's copy relies on), post-erasure travel to
    * any pre-delete version REFUSES, and the dir that held the erased
    * rows is GONE FROM DISK — all three as oracle-pinned evidence
    * columns re-derived every run, with the surviving-corpus rollup
    * hash-checked.
    *
    * Scale: delete cost O(affected dirs + forget list); expiry is
    * O(#versions) pointer work + deletes of DEAD dirs only (live dirs
    * shared with the kept snapshot survive untouched); nothing ever
    * rescans the table. The untouched-dir re-address means a 100 TB
    * estate erases a user from the two dirs that hold them, not from
    * two thousand.
    */
  private def erasureEstate(s: SparkSession, d: String): (String, Boolean) = {
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "erase", d)
    var travelWorkedBefore = false
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir/d-a")
      M.commit(s, dir, 1, "data=d-a\nbase")
      docs.filter(col("doc_id") % 3 === 1)
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2, "data=d-a\ndata=d-b\nappend")
      travelWorkedBefore = M.readAt(s, dir, 1).count() > 0
      require(travelWorkedBefore, "pre-erasure time travel must work")
      // the forget list: doc_id % 9 == 0 — lives only in d-a
      val (v, affected, untouched) = M.deleteWhere(s, dir, "doc_id % 9 = 0")
      require(v == 3L && affected.size == 1 && untouched.size == 1 &&
        affected.head.endsWith("d-a"),
        s"delete must rewrite exactly d-a: $v $affected $untouched")
      val expired = M.expireSnapshots(s, dir, keepLast = 1)
      require(expired == Seq(1L, 2L), s"expected v1,v2 expired: $expired")
      M.vacuum(s, dir)
    }
    (dir, travelWorkedBefore)
  }

  private def q371(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val (dir, _) = erasureEstate(s, d)
    // evidence re-derived from the estate every run
    val travelRefused =
      try { M.readAt(s, dir, 2).count(); false }
      catch { case _: Exception => true }
    val bytesGone = !java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "d-a"))
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    val evidence = Seq((latest, travelRefused, bytesGone))
      .toDF("latest_version", "travel_refused", "erased_dir_gone")
    M.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q371Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  TRUE AS travel_refused,
      |  TRUE AS erased_dir_gone
      |FROM documents
      |WHERE doc_id % 3 IN (0, 1) AND NOT doc_id % 9 = 0
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q373

  /** q373: SCHEMA GATE + EXPLICIT EVOLUTION — the write-time contract
    * that keeps a multi-producer estate coherent (Delta's schema
    * enforcement; q239 shows the READ side of evolution, THIS is the
    * write side): every append must conform to the DECLARED schema as a
    * (name → type) map (`VersionedManifest.commitConformed` — missing,
    * undeclared, and retyped columns each refuse with the mismatch
    * named, no manifest written), and the contract changes only through
    * `evolveSchema`, which is ADDITIVE-ONLY (drops/retypes refuse) and
    * records the event as a metadata-only version in the audit trail.
    * The estate walks every arm: a conforming base lands, three
    * malformed batches refuse (one per mismatch class — re-exercised
    * every run), a destructive evolution refuses, the additive one
    * lands, and the post-evolution append carries the new column. The
    * rollup reads ACROSS the evolution boundary (footer merge, q239's
    * contract): pre-evolution rows surface the added column as NULL and
    * fold into a '(pre-evolution)' bucket the oracle replays.
    *
    * Scale: the gate is one FOOTER read per append — no data scan;
    * evolution is a pointer write + one metadata-only manifest. The
    * expensive alternative (discovering drift at TRAINING time, three
    * months later) is what this gate exists to prevent.
    */
  private def q373(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType => LT, StringType => ST, StructField => SF, StructType => STT}
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "schemagate", d)
    val docs = Tables.documents(s, d)
    val v3cols = Seq("doc_id", "lang", "n_chars")
    StagingDirs.once(dir) {
      M.writeSchema(s, dir, STT(Seq(SF("doc_id", LT), SF("lang", ST),
        SF("n_chars", LT))))
      docs.filter(col("doc_id") % 2 === 0).select(v3cols.map(col): _*)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      require(M.commitConformed(s, dir, 1, "base").isEmpty,
        "conforming base must land")
      // the three mismatch classes, staged once, re-refused every run
      docs.filter(col("doc_id") % 2 === 1)
        .select((v3cols :+ "source").map(col): _*)
        .write.mode("overwrite").parquet(s"$dir/v=10")
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/v=11")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("string").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/v=12")
    }
    // refusals re-exercised every run. A WARM re-run (same session, the
    // bench's second quote) sees the POST-evolution declared schema —
    // v=10 conforms then by design (that is the point of evolution), so
    // only the still-invalid batches re-attempt, with their
    // post-evolution problem lists (each gains "missing column source").
    val evolved = M.readSchema(s, dir).exists(_.fieldNames.contains("source"))
    val (attempts, expected): (Seq[Long], Seq[Seq[String]]) =
      if (!evolved) (Seq(10L, 11L, 12L), Seq(
        Seq("undeclared column source"),
        Seq("missing column n_chars"),
        Seq("column n_chars is string, declared bigint")))
      else (Seq(11L, 12L), Seq(
        Seq("missing column n_chars", "missing column source"),
        Seq("missing column source",
          "column n_chars is string, declared bigint")))
    val refusals = attempts.map(v =>
      M.commitConformed(s, dir, v, s"bad batch $v"))
    require(refusals == expected, refusals.toString)
    val badEvolve = M.evolveSchema(s, dir,
      org.apache.spark.sql.types.StructType(Seq(
        SF("doc_id", LT), SF("lang", ST))))
    val dropExpected =
      if (!evolved) Seq("evolution would drop column n_chars")
      else Seq("evolution would drop column n_chars",
        "evolution would drop column source")
    require(badEvolve == Left(dropExpected), badEvolve.toString)
    if (M.latestCommitted(s, dir).contains(1L)) {
      // one-time: the additive evolution + the post-evolution append
      require(M.evolveSchema(s, dir, STT(Seq(SF("doc_id", LT),
        SF("lang", ST), SF("n_chars", LT), SF("source", ST)))) == Right(2L))
      docs.filter(col("doc_id") % 2 === 1)
        .select((v3cols :+ "source").map(col): _*)
        .write.mode("overwrite").parquet(s"$dir/v=3")
      require(M.commitConformed(s, dir, 3, "post-evolution append").isEmpty,
        "the evolved batch must now conform")
    }
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    // evidence reflects the publication protocol (3 refused classes at
    // declare time); a warm run re-verifies the refusable subset above
    val nRefused = if (evolved) 3L else refusals.count(_.nonEmpty).toLong
    val evidence = Seq((latest, nRefused, badEvolve.isLeft))
      .toDF("latest_version", "n_refused_batches", "evolve_refused")
    s.read.option("mergeSchema", "true")
      .parquet(M.resolveDataDirs(s, dir, latest): _*)
      .select(col("lang"), coalesce(col("source"), lit("(pre-evolution)"))
        .as("src"), col("n_chars"))
      .groupBy(col("lang"), col("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("lang"), col("src"))
  }

  private val q373Sql =
    """SELECT lang,
      |  CASE WHEN doc_id % 2 = 1 THEN source
      |       ELSE '(pre-evolution)' END AS src,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  CAST(3 AS BIGINT) AS n_refused_batches,
      |  TRUE AS evolve_refused
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q374

  /** q374: CONCURRENT MERGE with snapshot-isolation conflict detection —
    * the multi-writer story q284 (version-slot OCC) and q366 (COW merge)
    * each tell half of: two refresh jobs that both read snapshot v2 and
    * both publish. Writer A's merge (keys in d-b only) lands v3; writer
    * B — staged against the SAME v2, keys in d-a only — loses the
    * version-slot race, walks the versions committed since its base,
    * proves A's history DISJOINT (A removed no dir B rewrote; A's new
    * dir shares no keys with B's source), rebases by re-addressing v3's
    * dirs minus its own affected set, and lands v4 WITHOUT recomputing
    * its rewrite. Writer C — also staged against v2 but touching the
    * same keys A rewrote — must ABORT (`ConcurrentModificationException`;
    * its staged dir stays an orphan for vacuum, invisible to readers).
    * The rollup reads the final snapshot (both disjoint merges applied,
    * C's refused) and carries the protocol evidence as oracle-pinned
    * columns: final version, the loser's rebase count parsed from the
    * committed manifest body, and the orphan staged-dir count from an
    * on-disk audit against every committed version's address list.
    *
    * Scale: the rebase is manifest arithmetic — O(versions since base)
    * manifest reads plus one key semi-join per version that added data —
    * never a rewrite recompute; at 100 TB this is the difference between
    * "the nightly dedup and the hourly CDC apply serialize through a
    * coordinator" and "they commit concurrently unless they actually
    * touched the same rows" (Delta/Iceberg conflict taxonomy at dir
    * granularity). Reference analog: concurrent scrape sessions landing
    * into one corpus dir (`main.py:203-214` re-reads between sessions).
    */
  private def conflictEstate(s: SparkSession, d: String): String = {
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.dir(s, "ccmerge", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 3 === 0)
        .write.mode("overwrite").parquet(s"$dir/d-a")
      M.commit(s, dir, 1, "data=d-a\nbase load")
      docs.filter(col("doc_id") % 3 === 1)
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2, "data=d-a\ndata=d-b\nappend")
      // writer A: reads v2, updates keys living only in d-b (%6==1 ⊂ %3==1)
      val srcA = docs.filter(col("doc_id") % 6 === 1)
        .withColumn("n_chars", col("n_chars") + 1000)
      val (vA, rA) = M.mergeDetectingConflicts(s, dir, srcA, "doc_id")
      require(vA == 3L && rA == 0L,
        s"writer A must land v3 with no rebase: v=$vA rebases=$rA")
      // writer B: ALSO read v2 (before A published); keys only in d-a
      // (%6==0 ⊂ %3==0) — disjoint from A, must rebase once and land v4
      val srcB = docs.filter(col("doc_id") % 6 === 0)
        .withColumn("n_chars", col("n_chars") + 3000)
      val (vB, rB) =
        M.mergeDetectingConflicts(s, dir, srcB, "doc_id", Some(2L))
      require(vB == 4L && rB == 1L,
        s"writer B must rebase once onto v3 and land v4: v=$vB rebases=$rB")
      // writer C: read v2, touches the keys A rewrote — TRUE conflict
      val srcC = docs.filter(col("doc_id") % 6 === 1)
        .withColumn("n_chars", col("n_chars") + 7)
      val refused =
        try { M.mergeDetectingConflicts(s, dir, srcC, "doc_id", Some(2L)); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      require(refused, "overlapping concurrent merge must abort")
    }
    dir
  }

  private def q374(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = graft.sources.VersionedManifest
    val dir = conflictEstate(s, d)
    val latest = M.latestCommitted(s, dir).getOrElse(0L)
    // loser's rebase count: parsed from the committed manifest body
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_commits", latest.toString)), "UTF-8")
    val rebases = "rebases=(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong).getOrElse(-1L)
    // orphan audit: staged d-c* dirs on disk that no committed version
    // addresses — exactly writer C's aborted rewrite
    val addressed = (1L to latest)
      .flatMap(v => M.resolveDataDirs(s, dir, v))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val orphans = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString.split('/').last)
      .count(n => n.startsWith("d-c") && !addressed.contains(n)).toLong
    val evidence = Seq((latest, rebases, orphans))
      .toDF("latest_version", "loser_rebases", "orphan_dirs")
    M.readLatest(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q374Sql =
    """WITH final AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 6 = 1 THEN n_chars + 1000
      |         WHEN doc_id % 6 = 0 THEN n_chars + 3000
      |         ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 IN (0, 1))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(4 AS BIGINT) AS latest_version,
      |  CAST(1 AS BIGINT) AS loser_rebases,
      |  CAST(1 AS BIGINT) AS orphan_dirs
      |FROM final GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q390

  /** q390: SQL `INSERT INTO` the versioned table — the batch-append face
    * that completes the table's write matrix (CTAS/RTAS q382, streaming
    * sink q323, MERGE proc q370, DELETE q384, now the plain INSERT a SQL
    * user reaches first). The insert travels through
    * [[graft.sources.VersionedManifest.appendBatch]]: BOTH write-time
    * gates (schema footer q373 + declared constraints q363) run over the
    * staged increment and a refusal publishes nothing. The estate makes
    * cumulativity provable: v1 is an atomic CTAS of the large docs, the
    * INSERT of the small docs publishes v2 whose manifest re-addresses
    * the CTAS dir BYTE-UNTOUCHED (evidence: the v2∩v1 dir intersection)
    * — append is manifest arithmetic, the previous snapshot's bytes
    * never move.
    *
    * Scale: the increment is the only data written or validated
    * (gates are O(batch), publish is one rename) — INSERT INTO a 100 TB
    * table costs the batch, never the table.
    */
  private def sqlInsertCatalog(s: SparkSession, d: String): (String, String) = {
    val root = StagingDirs.dir(s, "sqlins", d)
    val cat = VersionedCatalog.mount(s, "g390_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val M = graft.sources.VersionedManifest
      val src = s"parquet.`$d/documents.parquet`"
      s.sql(s"CREATE TABLE $cat.tables.ins AS SELECT doc_id, source, " +
        s"n_chars FROM $src WHERE n_chars >= 200")
      s.sql(s"INSERT INTO $cat.tables.ins SELECT doc_id, source, " +
        s"n_chars FROM $src WHERE n_chars < 200")
      require(M.latestCommitted(s, s"$root/ins").contains(2L),
        "INSERT INTO must publish version 2")
    }
    (cat, root)
  }

  private def q390(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cat, root) = sqlInsertCatalog(s, d)
    val M = graft.sources.VersionedManifest
    val dir = s"$root/ins"
    val carried = M.resolveDataDirs(s, dir, 2).toSet
      .intersect(M.resolveDataDirs(s, dir, 1).toSet)
    val inserted = M.readAt(s, dir, 2).count() - M.readAt(s, dir, 1).count()
    val evidence = Seq((2L, carried.size.toLong, inserted))
      .toDF("latest_version", "n_carried_dirs", "inserted_rows")
    s.sql(s"SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        s"FROM $cat.tables.ins GROUP BY source")
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q390Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(2 AS BIGINT) AS latest_version,
      |  CAST(1 AS BIGINT) AS n_carried_dirs,
      |  CAST((SELECT COUNT(*) FROM documents WHERE n_chars < 200)
      |    AS BIGINT) AS inserted_rows
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q391

  /** q391: PREDICATE-SCOPED OVERWRITE (replaceWhere) — the atomic
    * partition-reload every estate runs nightly: `df.writeTo(t)
    * .overwrite(source = 'src1')` replaces EXACTLY the src1 rows with a
    * corrected batch in ONE version — readers see entirely-old or
    * entirely-new, never a half-reload. The predicate travels as V1
    * filters into [[graft.sources.VersionedManifest.overwriteWhere]];
    * the estate is laid out so the replaced region lives in one dir
    * (v1 = src0/src1/src2, v2 appends the rest), proving the dir-COW
    * bound: the big dir re-addresses untouched into v3 while only the
    * small dir rewrites. Source rows that DON'T match the predicate
    * refuse before any write (Delta's replaceWhere contract — a stray
    * row would make replay clobber unrelated data); an untranslatable
    * predicate refuses at write-build time.
    *
    * Scale: cost is O(replaced region + new batch); at 100 TB a
    * single-partition reload rewrites that partition's dirs, never the
    * table, and the atomicity is one manifest rename.
    */
  private def replaceWhereCatalog(s: SparkSession, d: String)
      : (String, String) = {
    val root = StagingDirs.dir(s, "replw", d)
    val cat = VersionedCatalog.mount(s, "g391_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val M = graft.sources.VersionedManifest
      val dir = s"$root/rw"
      val src = s"parquet.`$d/documents.parquet`"
      val three = "('src0', 'src1', 'src2')"
      s.sql(s"CREATE TABLE $cat.tables.rw AS SELECT doc_id, source, " +
        s"n_chars FROM $src WHERE source IN $three")
      Tables.documents(s, d).filter(!col("source").isin("src0", "src1", "src2"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2,
        (M.resolveDataDirs(s, dir, 1) :+ s"$dir/d-b")
          .map(p => s"data=$p").mkString("\n") + "\nappend other sources")
      // the corrected src1 batch: re-measured n_chars (+1000 marker)
      Tables.documents(s, d).filter(col("source") === "src1")
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000L).as("n_chars"))
        .writeTo(s"$cat.tables.rw")
        .overwrite(col("source") === lit("src1"))
      require(M.latestCommitted(s, dir).contains(3L),
        "replaceWhere must publish version 3")
    }
    (cat, root)
  }

  private def q391(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cat, root) = replaceWhereCatalog(s, d)
    val M = graft.sources.VersionedManifest
    val dir = s"$root/rw"
    val untouched = M.resolveDataDirs(s, dir, 3).toSet
      .intersect(M.resolveDataDirs(s, dir, 2).toSet)
    val evidence = Seq((3L, untouched.size.toLong))
      .toDF("latest_version", "n_untouched_dirs")
    s.sql(s"SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        s"FROM $cat.tables.rw GROUP BY source")
      .crossJoin(broadcast(evidence))
      .orderBy(col("source"))
  }

  private val q391Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN source = 'src1' THEN n_chars + 1000
      |    ELSE n_chars END) AS BIGINT) AS total_chars,
      |  CAST(3 AS BIGINT) AS latest_version,
      |  CAST(1 AS BIGINT) AS n_untouched_dirs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q392

  /** q392: SQL UPDATE — `CALL <cat>.sys.update(table, predicate, column,
    * value_expr)`, the copy-on-write UPDATE
    * ([[graft.sources.VersionedManifest.updateWhere]]) completing the
    * estate's DML trio beside DELETE (q384) and MERGE (q370). The RHS
    * (`n_chars * 2 + length(source)`) evaluates against the PRE-update
    * row and casts back to the column's declared type — an UPDATE can
    * never retype the table past the schema gate. Same two-dir estate
    * as q391: the updated source lives in the small dir, so the receipt
    * proves 1 affected / 1 untouched, and non-matching rows — including
    * rows in the rewritten dir — survive byte-identical.
    *
    * Scale: discovery is one predicate-pushed scan to input_file_name
    * granularity; the rewrite pays O(affected dirs); a no-match UPDATE
    * publishes nothing (no churn version).
    */
  private def sqlUpdateCatalog(s: SparkSession, d: String)
      : (String, String) = {
    val root = StagingDirs.dir(s, "squpd", d)
    val cat = VersionedCatalog.mount(s, "g392_" + d.replaceAll("[^A-Za-z0-9]", "_"), root)
    StagingDirs.once(root) {
      val M = graft.sources.VersionedManifest
      val dir = s"$root/upd"
      val src = s"parquet.`$d/documents.parquet`"
      s.sql(s"CREATE TABLE $cat.tables.upd AS SELECT doc_id, source, " +
        s"n_chars FROM $src WHERE source IN ('src0', 'src1', 'src2')")
      Tables.documents(s, d).filter(!col("source").isin("src0", "src1", "src2"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/d-b")
      M.commit(s, dir, 2,
        (M.resolveDataDirs(s, dir, 1) :+ s"$dir/d-b")
          .map(p => s"data=$p").mkString("\n") + "\nappend other sources")
      val receipt = s.sql(s"CALL $cat.sys.update('upd', " +
        s"'source = ''src2''', 'n_chars', 'n_chars * 2 + length(source)')")
        .collect().head
      require(receipt.getLong(1) == 3L && receipt.getLong(2) == 1L &&
        receipt.getLong(3) == 1L, s"unexpected update receipt: $receipt")
    }
    (cat, root)
  }

  private def q392(s: SparkSession, d: String): DataFrame = {
    val (cat, _) = sqlUpdateCatalog(s, d)
    s.sql(s"SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        s"FROM $cat.tables.upd GROUP BY source ORDER BY source")
  }

  private val q392Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN source = 'src2'
      |    THEN n_chars * 2 + length(source) ELSE n_chars END) AS BIGINT)
      |    AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q400

  /** q400: COLUMN DROP + RE-ADD WITHOUT RESURRECTION — the second half
    * of column mapping (q300 renames; this DROPS): dropping `source` is
    * ONE metadata-only manifest (the logical field list shrinks; not a
    * byte rewrites), and RE-ADDING a column of the same name binds a
    * FRESH physical name (`source_2`), so the bytes still sitting in the
    * old generation's files under physical `source` can NEVER leak back
    * into the logical column — Delta/Iceberg's field-id indirection
    * essence, the property that makes a drop safe to ever re-use a name
    * after. The estate: v1 loads evens (physical `source` populated!),
    * v2 drops the column, v3 re-adds it and appends odds (physical
    * `source_2`). Reading v3, every even row's `source` is NULL — the
    * hash-checked no-resurrection claim — while time travel to v1 still
    * shows the original values (the drop is versioned, not destructive;
    * pinned in Round11Spec).
    *
    * Scale: drop and re-add are one manifest line each on a 100 TB
    * table; the read-side NULL-fill is a per-generation projection
    * alias, free under codegen. The alternative — rewriting the table
    * to physically remove a column — is exactly what this exists to
    * avoid.
    */
  private def q400(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{VersionedManifest => VM}
    val dir = StagingDirs.dir(s, "coldrop", d)
    StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(s, dir, 1, Seq("initial load (evens)",
        "field=doc_id:doc_id", "field=source:source",
        "field=n_chars:n_chars").mkString("\n"))
      VM.commit(s, dir, 2, Seq("drop column source", "dataChange=false",
        s"data=$dir/v=1",
        "field=doc_id:doc_id", "field=n_chars:n_chars").mkString("\n"))
      docs.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("source", "source_2")
        .write.mode("overwrite").parquet(s"$dir/v=3")
      VM.commit(s, dir, 3, Seq("re-add column source (fresh field)",
        s"data=$dir/v=1", s"data=$dir/v=3",
        "field=doc_id:doc_id", "field=n_chars:n_chars",
        "field=source:source_2").mkString("\n"))
    }
    // the mapped reader: per data dir, each logical field resolves to
    // its physical name when the dir's footer carries it, else NULL —
    // old generations can never serve a re-added field
    val fields = VM.describe(s, dir, 3).linesIterator
      .filter(_.startsWith("field=")).map(_.stripPrefix("field="))
      .map { kv => val Array(lg, ph) = kv.split(":", 2); lg -> ph }.toSeq
    val gens = VM.resolveDataDirs(s, dir, 3).map(d0 => Tables.parquet(s, d0))
    // a logical field's type comes from the generation footers that
    // CARRY its physical name — never assumed (r11 advice: a hard-coded
    // string cast would mistype a non-string drop/re-add)
    val declaredType = gens.flatMap(_.schema.fields.map(f =>
      f.name -> f.dataType)).toMap
    val snapshot = gens.map { g =>
      g.select(fields.map { case (lg, ph) =>
        if (g.columns.contains(ph)) col(ph).as(lg)
        else lit(null).cast(declaredType.getOrElse(ph,
          throw new IllegalStateException(
            s"mapped field $lg -> $ph exists in no generation footer")))
          .as(lg)
      }: _*)
    }.reduce(_.unionByName(_))
    snapshot.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(coalesce(col("source"), lit("")))
  }

  private val q400Sql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END
      |        AS source, n_chars FROM documents)
      |GROUP BY source ORDER BY COALESCE(source, '')""".stripMargin

  // --------------------------------------------------------------- q401

  /** q401: PERSISTED INFORMATIONAL FOREIGN KEYS — q281's join
    * elimination, but the constraint lives in the TABLE, not the
    * session: `VersionedManifest.declareForeignKey` audits the pair
    * (null FKs, dangling FKs, dim-key uniqueness — the q281 protocol),
    * refuses with evidence when violated, and lands `fk=` metadata as a
    * metadata-only version PINNING the dim's current snapshot. Any new
    * session calls `registerDeclaredForeignKeys` — O(#fk lines), no data
    * scan — and unused-dimension joins vanish from its plans; a dim that
    * moved on invalidates the pin (liveForeignKeys skips it), so a stale
    * declaration degrades to a real join, never to a wrong answer
    * (Round11Spec pins the eliminated plan, the staleness fallback, and
    * the audit refusal). This is the warehouse RELY pattern: unenforced
    * constraints as persisted, versioned optimizer fuel.
    *
    * Scale: declaration costs three key-column passes ONCE; every query
    * the wide view serves thereafter saves a dimension scan + shuffle.
    * Liveness is manifest arithmetic per session, not a data audit.
    */
  private def q401(s: SparkSession, d: String): DataFrame = {
    val M = graft.sources.VersionedManifest
    val root = StagingDirs.dir(s, "fkdecl", d)
    val (factDir, dimDir) = (s"$root/orders", s"$root/customers")
    StagingDirs.once(root) {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$factDir/v=1")
      M.commit(s, factDir, 1, "load orders")
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
          col("c_nationkey"))
        .write.mode("overwrite").parquet(s"$dimDir/v=1")
      M.commit(s, dimDir, 1, "load customers")
      val r = M.declareForeignKey(s, factDir, "o_custkey", dimDir,
        "c_custkey")
      require(r == Right(2L), s"FK declaration failed: $r")
    }
    val nLive = M.registerDeclaredForeignKeys(s, factDir).toLong
    withConf(s, "spark.graft.ri.eliminate" -> "true") { s =>
      import s.implicits._
      val fact = M.readAt(s, factDir, 2)
      val dim = M.readAt(s, dimDir, 1)
      fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("revenue"))
        .crossJoin(broadcast(Seq(nLive).toDF("n_live_fks")))
        .orderBy(col("o_orderpriority"))
    }
  }

  private val q401Sql =
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       |  ${graft.Exact.sqlSumMoney("o_totalprice")} AS revenue,
       |  CAST(1 AS BIGINT) AS n_live_fks
       |FROM orders GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q401_fk_catalog" -> q401,
    "q400_column_drop" -> q400,
    "q390_sql_insert" -> q390,
    "q391_replace_where" -> q391,
    "q392_sql_update" -> q392,
    "q374_concurrent_merge" -> q374,
    "q382_atomic_rtas" -> q382,
    "q384_sql_cow_delete" -> q384,
    "q373_schema_gate" -> q373,
    "q371_versioned_erasure" -> q371,
    "q370_sql_merge_proc" -> q370,
    "q369_zorder_clustering" -> q369,
    "q366_versioned_merge" -> q366,
    "q363_table_constraints" -> q363,
    "q358_sql_estate_procs" -> q358,
    "q354_sql_branch_read" -> q354,
    "q355_snapshot_expiry" -> q355,
    "q353_salted_agg_plan" -> q353,
    "q348_row_tracking" -> q348,
    "q349_branch_publish" -> q349,
    "q350_bitemporal_asof" -> q350,
    "q315_delta_join_view" -> q315,
    "q321_sql_time_travel" -> q321,
    "q322_audit_gate" -> q322,
    "q327_sql_table_history" -> q327,
    "q329_stats_in_manifest" -> q329,
    "q330_sql_rollback" -> q330,
    "q331_sql_multitable_snapshot" -> q331,
    "q332_snapshot_drift" -> q332,
    "q335_bloom_skipping" -> q335,
    "q339_release_tags" -> q339,
    "q344_cluster_rewrite" -> q344,
    "q246_catalog_stats" -> q246,
    "q247_snapshot_read" -> q247,
    "q249_vacuum" -> q249,
    "q250_time_travel" -> q250,
    "q251_file_skipping" -> q251,
    "q253_bucketed_join" -> q253,
    "q254_metadata_agg" -> q254,
    "q255_version_diff" -> q255,
    "q277_multitable_snapshot" -> q277,
    "q278_bloom_skipping" -> q278,
    "q280_mv_rewrite" -> q280,
    "q282_mv_refresh" -> q282,
    "q284_optimistic_commit" -> q284,
    "q285_partition_evolution" -> q285,
    "q288_deletion_vectors" -> q288,
    "q291_table_history" -> q291,
    "q292_snapshot_rollback" -> q292,
    "q293_change_data_feed" -> q293,
    "q294_cdf_apply" -> q294,
    "q296_dv_compaction" -> q296,
    "q298_range_join_rewrite" -> q298,
    "q299_mor_merge" -> q299,
    "q300_column_mapping" -> q300,
    "q307_shallow_clone" -> q307,
    "q308_cascade_erasure" -> q308,
    "q313_small_files_audit" -> q313,
    "q256_cow_delete" -> q256,
    "q257_zorder_skipping" -> q257,
    "q258_cbo_join_reorder" -> q258,
    "q259_runtime_bloom_join" -> q259,
    "q260_aqe_skew_join" -> q260,
    "q233_dpp_star" -> q233,
    "q235_avro_roundtrip" -> q235,
    "q239_schema_evolution" -> q239,
    "q240_fuzzy_join" -> q240,
    "q242_compaction" -> q242,
    "q245_partitioned_compaction" -> q245,
    "q203_orc_roundtrip" -> q203,
    "q220_countmin_sketch" -> q220,
    "q105_salted_join" -> q105,
    "q111_bloom_join" -> q111,
    "q141_heavy_hitters" -> q141,
    "q144_interval_bin_join" -> q144,
    "q156_weighted_sample" -> q156,
    "q172_incremental_refresh" -> q172,
    "q173_join_cardinality" -> q173,
    "q178_zorder_audit" -> q178,
    "q46_salted_agg" -> q46,
    "q47_repartition_layout" -> q47,
    "q48_stratified_sample" -> q48,
    "q49_merge_upsert" -> q49
  )

  override def oracles: Map[String, String] = Map(
    "q374_concurrent_merge" -> q374Sql,
    "q382_atomic_rtas" -> q382Sql,
    "q401_fk_catalog" -> q401Sql,
    "q400_column_drop" -> q400Sql,
    "q390_sql_insert" -> q390Sql,
    "q391_replace_where" -> q391Sql,
    "q392_sql_update" -> q392Sql,
    "q384_sql_cow_delete" -> q384Sql,
    "q373_schema_gate" -> q373Sql,
    "q371_versioned_erasure" -> q371Sql,
    "q370_sql_merge_proc" -> q370Sql,
    "q369_zorder_clustering" -> q369Sql,
    "q366_versioned_merge" -> q366Sql,
    "q363_table_constraints" -> q363Sql,
    "q358_sql_estate_procs" -> q358Sql,
    "q354_sql_branch_read" -> q354Sql,
    "q355_snapshot_expiry" -> q355Sql,
    "q353_salted_agg_plan" -> q353Sql,
    "q348_row_tracking" -> q348Sql,
    "q349_branch_publish" -> q349Sql,
    "q350_bitemporal_asof" -> q350Sql,
    "q315_delta_join_view" -> q315Sql,
    "q321_sql_time_travel" -> q321Sql,
    "q322_audit_gate" -> q322Sql,
    "q327_sql_table_history" -> q327Sql,
    "q329_stats_in_manifest" -> q329Sql,
    "q330_sql_rollback" -> q330Sql,
    "q331_sql_multitable_snapshot" -> q331Sql,
    "q332_snapshot_drift" -> q332Sql,
    "q335_bloom_skipping" -> q335Sql,
    "q339_release_tags" -> q339Sql,
    "q344_cluster_rewrite" -> q344Sql,
    "q246_catalog_stats" -> q246Sql,
    "q247_snapshot_read" -> q247Sql,
    "q249_vacuum" -> q249Sql,
    "q250_time_travel" -> q250Sql,
    "q251_file_skipping" -> q251Sql,
    "q253_bucketed_join" -> q253Sql,
    "q254_metadata_agg" -> q254Sql,
    "q255_version_diff" -> q255Sql,
    "q277_multitable_snapshot" -> q277Sql,
    "q278_bloom_skipping" -> q278Sql,
    "q280_mv_rewrite" -> q280Sql,
    "q282_mv_refresh" -> q282Sql,
    "q284_optimistic_commit" -> q284Sql,
    "q285_partition_evolution" -> q285Sql,
    "q288_deletion_vectors" -> q288Sql,
    "q291_table_history" -> q291Sql,
    "q292_snapshot_rollback" -> q292Sql,
    "q293_change_data_feed" -> q293Sql,
    "q294_cdf_apply" -> q294Sql,
    "q296_dv_compaction" -> q296Sql,
    "q298_range_join_rewrite" -> q298Sql,
    "q299_mor_merge" -> q299Sql,
    "q300_column_mapping" -> q300Sql,
    "q307_shallow_clone" -> q307Sql,
    "q308_cascade_erasure" -> q308Sql,
    "q313_small_files_audit" -> q313Sql,
    "q256_cow_delete" -> q256Sql,
    "q257_zorder_skipping" -> q257Sql,
    "q258_cbo_join_reorder" -> q258Sql,
    "q259_runtime_bloom_join" -> q259Sql,
    "q260_aqe_skew_join" -> q260Sql,
    "q233_dpp_star" -> q233Sql,
    "q235_avro_roundtrip" -> q235Sql,
    "q239_schema_evolution" -> q239Sql,
    "q240_fuzzy_join" -> q240Sql,
    "q242_compaction" -> q242Sql,
    "q245_partitioned_compaction" -> q245Sql,
    "q203_orc_roundtrip" -> q203Sql,
    "q220_countmin_sketch" -> q220Sql,
    "q105_salted_join" -> q105Sql,
    "q111_bloom_join" -> q111Sql,
    "q141_heavy_hitters" -> q141Sql,
    "q144_interval_bin_join" -> q144Sql,
    "q156_weighted_sample" -> q156Sql,
    "q172_incremental_refresh" -> q172Sql,
    "q173_join_cardinality" -> q173Sql,
    "q178_zorder_audit" -> q178Sql,
    "q46_salted_agg" -> q46Sql,
    "q47_repartition_layout" -> q47Sql,
    "q48_stratified_sample" -> q48Sql,
    "q49_merge_upsert" -> q49Sql
  )
}
