package graft.operators

import graft.SparkSpec
import graft.GraftSession.{rebind, withConf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Direct pins on the shared [[Jaccard.pairs]] core (q74/q85/q113/q186/q89
  * all ride it): the stop-shingle df cap bounds candidate-pair cardinality
  * on a deliberately hot element, and a seeded-random property check holds
  * the inverted-index join to brute-force semantics at any minJ, capped and
  * uncapped — independent of the DuckDB oracles.
  */
class JaccardSpec extends SparkSpec {

  private def postingsDf(sets: Map[Int, Set[String]]): (DataFrame, DataFrame) = {
    import spark.implicits._
    // Long ids, as every capped production caller has (doc_id): the
    // bounded-collect aggregate on the capped path is Long-typed
    val p = sets.toSeq.flatMap { case (id, es) => es.map(e => (id.toLong, e)) }
      .toDF("id", "e")
    val sz = sets.toSeq.map { case (id, es) => (id.toLong, es.size) }
      .toDF("id", "sz")
    (p, sz)
  }

  /** Brute-force reference with the same cap semantics: inter counts only
    * elements with df <= maxDf; sizes stay full-set.
    */
  private def brute(sets: Map[Int, Set[String]], minJ: Double,
                    maxDf: Long): Seq[(Int, Int, Long, Double)] = {
    val df = sets.values.flatten.groupBy(identity).map { case (e, os) => e -> os.size }
    val cold = sets.map { case (id, es) => id -> es.filter(e => df(e) <= maxDf) }
    val ids = sets.keys.toSeq.sorted
    for {
      a <- ids; b <- ids if a < b
      inter = (cold(a) & cold(b)).size.toLong if inter > 0
      jac = inter.toDouble / (sets(a).size + sets(b).size - inter) if jac >= minJ
    } yield (a, b, inter, jac)
  }

  private def collectPairs(df: DataFrame): Seq[(Int, Int, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
      .toSeq.sorted

  test("hot element: df cap bounds candidate-pair cardinality") {
    // 60 docs; one boilerplate element in 50 of them; each doc also has 3
    // rare elements shared with at most one neighbor (chain overlaps).
    val sets = (0 until 60).map { i =>
      val rare = Set(s"r${i}a", s"r${i}b", s"shared${i / 2}")
      i -> (if (i < 50) rare + "HOT" else rare)
    }.toMap
    val (p, sz) = postingsDf(sets)

    // Uncapped, the hot element alone emits 50*49/2 = 1225 candidate pairs.
    val uncapped = Jaccard.pairs(p, sz, minJ = 0.0).count()
    assert(uncapped >= 1225L)

    // Capped at df=10 the hot element is dropped: only the 30 chain pairs
    // (sharedK links docs 2k and 2k+1) survive as candidates.
    val capped = Jaccard.pairs(p, sz, minJ = 0.0, maxDf = 10L)
    assert(capped.count() === 30L)
    // and the bound from the Jaccard scaladoc holds: maxDf/2 × |postings|
    val nPostings = sets.values.map(_.size).sum
    assert(capped.count() <= 10L * nPostings / 2)
    // exact values match the mirrored brute force
    assert(collectPairs(capped) === brute(sets, 0.0, 10L).sorted)
  }

  test("the fat postings exchange materializes once; the df leg ships partials") {
    // the scale contract of the spelling: exactly TWO element-keyed
    // shuffles — the postings relation once (both self-join sides re-read
    // it via ReusedExchange) and the df aggregation's map-side-combined
    // per-element partial counts (a sliver); the semi join adds none
    val sets = (0 until 20).map { i =>
      i -> Set(s"r${i}", s"shared${i / 2}", "COMMON")
    }.toMap
    val (p, sz) = postingsDf(sets)
    // at-scale posture: neither postings nor the cold-element list fit
    // a broadcast, so every consumer must meet on an exchange
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val df = Jaccard.pairs(rebind(spark, p), rebind(spark, sz), minJ = 0.0, maxDf = 10L)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val real = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning(e"))
        .filterNot(_.contains("ReusedExchange")).size
      assert(real == 2,
        s"want 2 element-keyed shuffles (postings + df partials), got $real:\n$plan")
      // the df leg's partial combine must sit BELOW its exchange
      assert(plan.contains("partial_count"),
        s"df aggregation not map-side combined:\n$plan")
      // and the postings shuffle must be re-read, not re-planned
      assert(plan.contains("ReusedExchange"),
        s"self-join sides re-materialize the postings shuffle:\n$plan")
    }
  }

  private def carriedDf(sets: Map[Int, Set[String]]): DataFrame = {
    import spark.implicits._
    sets.toSeq.flatMap { case (id, es) =>
      es.map(e => (id.toLong, es.size.toLong, e))
    }.toDF("id", "sz", "e")
  }

  test("pairsCarried ≡ pairs: identical output, no sizes joins, no pair re-shuffles") {
    val sets = (0 until 40).map { i =>
      i -> Set(s"r${i}a", s"r${i}b", s"shared${i / 2}", s"tri${i / 3}")
    }.toMap
    val (p, sz) = postingsDf(sets)
    val viaJoin = collectPairs(Jaccard.pairs(p, sz, minJ = 0.0, maxDf = 10L))
    val carried = Jaccard.pairsCarried(carriedDf(sets), minJ = 0.0, maxDf = 10L)
    assert(collectPairs(carried) === viaJoin)
    // the structural point of the carried spelling: after the pair
    // aggregation, NOTHING re-shuffles — no id-keyed exchange exists
    // above it (pairs had two, one per sizes join)
    carried.collect()
    val plan = carried.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("hashpartitioning(ida") &&
      !plan.contains("hashpartitioning(idb"),
      s"carried spelling must not re-shuffle the pair mass:\n$plan")
  }

  test("property: pairsCarried ≡ brute force at random set families") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val n = 10 + rnd.nextInt(8)
      val vocab = (0 until 25).map(i => s"e$i")
      val sets = (0 until n).map { id =>
        id -> rnd.shuffle(vocab).take(3 + rnd.nextInt(7)).toSet
      }.toMap
      val minJ = Seq(0.0, 0.25, 0.5, 0.0)(trial)
      val maxDf = Seq(Long.MaxValue, 5L, 3L, 8L)(trial)
      val got = collectPairs(Jaccard.pairsCarried(carriedDf(sets), minJ, maxDf))
      assert(got === brute(sets, minJ, maxDf).sorted,
        s"trial=$trial minJ=$minJ maxDf=$maxDf")
    }
  }

  test("property: pairs ≡ brute force at random set families, any minJ") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 12 + rnd.nextInt(8)
      val vocab = (0 until 30).map(i => s"e$i")
      val sets = (0 until n).map { id =>
        id -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8)).toSet
      }.toMap
      val (p, sz) = postingsDf(sets)
      val minJ = Seq(0.0, 0.2, 0.5)(trial % 3)
      val maxDf = Seq(Long.MaxValue, 6L, 3L)(trial % 3)
      val got = collectPairs(Jaccard.pairs(p, sz, minJ, maxDf = maxDf))
      assert(got === brute(sets, minJ, maxDf).sorted,
        s"trial=$trial minJ=$minJ maxDf=$maxDf")
    }
  }
}
