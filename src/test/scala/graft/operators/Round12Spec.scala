package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.sources.{VersionedManifest => VM}
import org.apache.spark.sql.functions._

/** Round-12 contracts: the r11 verdict's asks (q395 projection cap, q402
  * sorted-iterator fold, persisted ANN index lifecycle, N-writer OCC
  * appends) plus the r11 ADVICE regressions (nested-layout DML
  * classification, op-named publish refusals, append staging isolation).
  */
class Round12Spec extends SparkSpec {

  // ------------------------------------------------ q395 projection cap

  test("q395 projection drops hot parts before pairing (bounded fan-out)") {
    import spark.implicits._
    // adversarial fixture: part 0 has 200 distinct buyers (a Zipf head —
    // the r11 plan fanned out C(200,2) = 19900 pairs for it alone);
    // parts 1..40 have 8 buyers each, all distinct from the hot set
    val hot = (0 until 200).map(c => (c.toLong, 0L))
    val small =
      for (p <- 1 to 40; c <- 0 until 8)
        yield ((p * 1000 + c).toLong, p.toLong)
    val cp = (hot ++ small).toDF("c", "p")
    val pairs = Graphs.copurchasePairCounts(cp, Graphs.PartCap).cache()
    try {
      val n = pairs.agg(sum(col("cnt"))).head().getLong(0)
      // only the 40 small parts pair: 40 × C(8,2) pair instances — and
      // in general ≤ parts × C(cap,2) by construction
      assert(n == 40L * 28L, s"expected 1120 small-part pairs, got $n")
      assert(n <= 41L * 2016L)
      val hotPairs = pairs.filter(col("ca") < 200L || col("cb") < 200L).count()
      assert(hotPairs == 0L, s"hot part leaked $hotPairs pairs into the projection")
    } finally pairs.unpersist()
  }

  test("q395 pair generation is one grouped scan, not a self-join") {
    import spark.implicits._
    val cp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (1L, 3L), (2L, 3L))
      .toDF("c", "p")
    val pairs = Graphs.copurchasePairCounts(cp, 64)
    val plan = pairs.queryExecution.optimizedPlan.toString
    // the only join is the degree-cap LEFT SEMI (bounded-state); pairs
    // themselves come from the array expansion, never an inner self-join
    assert(!plan.contains("Join Inner"),
      s"pair generation must not self-join:\n$plan")
    assert(plan.contains("Generate"),
      s"pairs must come from the array expansion:\n$plan")
    val rows = pairs.as[(Long, Long, Long)].collect().sorted.toSeq
    assert(rows == Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)),
      rows.mkString(","))
  }

  // ------------------------------------------------ q402 sorted fold

  test("q402 folds the sorted group iterator — no CollectList in the plan") {
    val df = SparkEntry.queries("q402_match_recognize")(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("CollectList"),
      s"q402 must not buffer per-user arrays:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
  }

  test("q402 DFA counts non-overlapping V-shapes on a hand-checked series") {
    import spark.implicits._
    // one user: values 5 4 3 4 5 | 5 4 3 2 3 4 (two Vs), plateau resets
    val vals = Seq(5, 4, 3, 4, 5, 5, 4, 3, 2, 3, 4).map(_.toDouble)
    val df = vals.zipWithIndex
      .map { case (v, i) => (1L, i.toLong * 1000000L, i.toLong, v) }
      .toDF("user_id", "ts_us", "event_id", "value")
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // re-run the registered fold on the fixture via the same spelling
    val out = df.select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts_us"), col("event_id")) { (uid, it) =>
        var st = 0; var cnt = 0L; var prev = 0.0; var seen = false
        it.foreach { case (_, _, _, v) =>
          if (seen) {
            if (v == prev) st = 0
            else if (v < prev) st = if (st == 1 || st == 2) 2 else 1
            else if (st == 3) { st = 0; cnt += 1L }
            else if (st == 2) st = 3
            else st = 0
          }
          prev = v; seen = true
        }
        Iterator.single((uid, cnt))
      }.collect()
    assert(out.toSeq == Seq((1L, 2L)), out.mkString(","))
  }

  // ------------------------------------------------ N-writer OCC appends

  test("N concurrent INSERT appenders all commit exactly once (N=4, 8)") {
    for (n <- Seq(4, 8)) {
      val dir = graft.StagingDirs.dir(spark, s"r12_occ$n")
      import spark.implicits._
      Seq((0L, "seed")).toDF("id", "src")
        .write.mode("overwrite").parquet(s"$dir/v=1")
      VM.commit(spark, dir, 1, "seed")
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to n).map { i =>
        new Thread(() => {
          try {
            val df = spark.range(10)
              .select((col("id") + i * 100L).as("id"), lit(s"w$i").as("src"))
            VM.appendBatch(spark, dir, df, s"append w$i")
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, s"N=$n: ${failures.peek()}")
      // history is exactly the slots 1..n+1 — every writer committed once
      val versions = VM.committedVersions(spark, dir)
      assert(versions == (1L to (n + 1L)),
        s"N=$n history not a permutation: $versions")
      val byWriter = VM.readLatest(spark, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      assert(byWriter.size == n + 1, s"N=$n writers in table: ${byWriter.keys}")
      (1 to n).foreach(i => assert(byWriter(s"w$i") == 10L,
        s"N=$n writer $i landed ${byWriter.get(s"w$i")} rows"))
      // nothing dangles: every staged dir is addressed, vacuum is a no-op
      val before = VM.readLatest(spark, dir).count()
      VM.vacuum(spark, dir)
      assert(VM.readLatest(spark, dir).count() == before)
    }
  }

  test("refused append leaves a vacuumable orphan stage, no manifest") {
    import spark.implicits._
    val dir = graft.StagingDirs.dir(spark, "r12_refstage")
    Seq((1L, 5L)).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, Seq("seed", "constraint=pos:x >= 0").mkString("\n"))
    val bad = Seq((2L, -1L)).toDF("id", "x")
    val e = intercept[IllegalStateException] {
      VM.appendBatch(spark, dir, bad, "bad append")
    }
    assert(e.getMessage.contains("constraint pos"), e.getMessage)
    assert(VM.latestCommitted(spark, dir).contains(1L))
    // the staged v=2-<token> dir exists as an orphan, then vacuums away
    def staged = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("v=2-")).toSeq
    assert(staged.nonEmpty, "refused append should leave its stage for vacuum")
    VM.vacuum(spark, dir)
    assert(staged.isEmpty, s"vacuum left ${staged.map(_.getName)}")
    assert(VM.readLatest(spark, dir).count() == 1L)
  }

  // ------------------------------------------------ r11 ADVICE regressions

  test("predicate-scoped overwrite rewrites a NESTED (partitionBy) data dir") {
    import spark.implicits._
    val dir = graft.StagingDirs.dir(spark, "r12_nest")
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "k", "x")
      .write.partitionBy("k").mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, "seed partitioned")
    val repl = Seq((9L, 99L, "a")).toDF("id", "x", "k")
    // before the prefix fix, matched files sat under v=1/k=a/ whose
    // PARENT (k=a) matched no registered dir: v=1 classified untouched
    // and the supposedly-replaced rows silently survived
    val (v, affected, untouched) = VM.overwriteWhere(spark, dir, "k = 'a'", repl)
    assert(v == 2L && affected.nonEmpty && untouched.isEmpty,
      s"v=$v affected=$affected untouched=$untouched")
    val ids = VM.readAt(spark, dir, 2).select(col("id"))
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 9L), s"overwrite left stale rows: $ids")
  }

  test("publishCow refusal names the refusing operation, not 'merge'") {
    import spark.implicits._
    val dir = graft.StagingDirs.dir(spark, "r12_opname")
    Seq((1L, 5L)).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, Seq("seed", "constraint=pos:x >= 0").mkString("\n"))
    val e = intercept[IllegalStateException] {
      VM.updateWhere(spark, dir, "id = 1", Seq("x" -> "-7"))
    }
    assert(e.getMessage.startsWith("update where"),
      s"refusal must name the operation: ${e.getMessage}")
    assert(VM.latestCommitted(spark, dir).contains(1L))
  }

  // ------------------------------------------------ persisted ANN index

  // the engine's own (durable, fingerprint-keyed) root — r13 moved the
  // estate out of the applicationId namespace, see Similarity.ivfIndexRoot
  private def idxRoot(tag: String, d: String): String =
    Similarity.ivfIndexRoot(spark, d, tag)

  test("q407 trains once, commits once, serves from the committed version") {
    val q = SparkEntry.queries("q407_ann_index_commit")
    val r1 = q(spark, sf0001).collect()
    assert(r1.nonEmpty)
    val root = idxRoot("full", sf0001)
    assert(VM.latestCommitted(spark, s"$root/cents").contains(1L))
    assert(VM.latestCommitted(spark, s"$root/lists").contains(1L))
    // geometry rides the artifact: serving re-derives nothing
    assert(VM.describe(spark, s"$root/cents", 1).contains("npr="))
    val again = q(spark, sf0001)
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains("ivfidx2_full"),
      "serving must scan the committed index artifact")
    assert(!again.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("posexplode"),
      "serving plan must not contain the training superstep")
    val r2 = again.collect()
    assert(VM.latestCommitted(spark, s"$root/lists").contains(1L),
      "a re-run must not retrain or re-commit")
    assert(r1.toSeq == r2.toSeq)
  }

  test("q409 compaction: one list-clustered dir, dataChange=false, rows identical") {
    val q = SparkEntry.queries("q409_ann_index_compact")
    val after = q(spark, sf0001).collect()
    val root = idxRoot("cmp", sf0001)
    val lv = VM.latestCommitted(spark, s"$root/lists").get
    assert(lv == 3L, s"expected compaction at v3, got $lv")
    assert(VM.resolveDataDirs(spark, s"$root/lists", 3).size == 1,
      "compaction must merge to ONE list-clustered dir")
    assert(!VM.dataChange(spark, s"$root/lists", 3),
      "compaction must publish dataChange=false")
    // a layout rewrite may never change results: serve from v2 == v3.
    // (pre-compaction serving replayed via the q408 estate, whose lists
    // v2 is the same logical content)
    val pre = SparkEntry.queries("q408_ann_index_append")(spark, sf0001).collect()
    assert(after.toSeq == pre.toSeq, "compaction changed serving results")
  }

  test("q410 retrain: cents v2 with own probe budget, lists rebuilt, old versions travelable") {
    val q = SparkEntry.queries("q410_ann_index_retrain")
    assert(q(spark, sf0001).collect().nonEmpty)
    val root = idxRoot("rt", sf0001)
    assert(VM.latestCommitted(spark, s"$root/cents").contains(2L))
    assert(VM.describe(spark, s"$root/cents", 2).contains("npr="))
    assert(VM.latestCommitted(spark, s"$root/lists").contains(3L))
    // snapshot isolation: the pre-retrain index versions still read
    assert(VM.readAt(spark, s"$root/cents", 1).count() > 0)
    assert(VM.readAt(spark, s"$root/lists", 2).count() > 0)
    // the retrained serving equals a fresh full-corpus index (q407's)
    val fresh = SparkEntry.queries("q407_ann_index_commit")(spark, sf0001)
      .collect()
    assert(q(spark, sf0001).collect().toSeq == fresh.toSeq,
      "retrain must erase frozen-quantizer drift")
  }

  test("q411 streaming maintenance converges to q408's batch append") {
    // stream-batch parity: one epoch per arrival file through the
    // epoch-marked OCC append ≡ the single-batch frozen-quantizer append
    val streamed = SparkEntry.queries("q411_stream_index_maint")(spark, sf0001)
      .collect()
    val batch = SparkEntry.queries("q408_ann_index_append")(spark, sf0001)
      .collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("q412 MaxSim dominates the pooled dot product pair-wise") {
    import spark.implicits._
    // Σ_m max_m' ⟨q_m, d_m'⟩ ≥ Σ_m ⟨q_m, d_m⟩ = ⟨q, d⟩ for EVERY pair
    // (the max over m' includes m' = m) — the property that makes late
    // interaction a refinement of single-vector retrieval
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("v"))
    val q = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val viol = vecs.select(col("vec_id").as("nid"), col("v").as("dv"))
      .crossJoin(broadcast(q))
      .select(
        expr("aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, m) -> " +
          "acc + array_max(transform(sequence(0, 7), n -> " +
          "graft_dot(slice(qv, m * 8 + 1, 8), slice(dv, n * 8 + 1, 8)))))")
          .as("maxsim"),
        expr("graft_dot(qv, dv)").as("pooled"))
      .filter(col("maxsim") < col("pooled")).count()
    assert(viol == 0L, s"$viol pairs where MaxSim < pooled dot")
  }

  test("q413 two-stage serving reads the committed index, never trains") {
    val df = SparkEntry.queries("q413_two_stage_serving")(spark, sf0001)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ivfidx2_full"),
      "stage-1 candidates must come from the committed index artifact")
    assert(!df.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("posexplode"),
      "serving plan must not contain the training superstep")
  }

  test("q408 appends under the frozen quantizer: v2 re-addresses v1 untouched") {
    val q = SparkEntry.queries("q408_ann_index_append")
    assert(q(spark, sf0001).collect().nonEmpty)
    val root = idxRoot("base", sf0001)
    assert(VM.latestCommitted(spark, s"$root/lists").contains(2L))
    val v1dirs = VM.resolveDataDirs(spark, s"$root/lists", 1)
    val v2dirs = VM.resolveDataDirs(spark, s"$root/lists", 2)
    assert(v1dirs.forall(v2dirs.contains),
      s"append must re-address v1's dirs: $v1dirs vs $v2dirs")
    assert(v2dirs.size == v1dirs.size + 1)
    // the quantizer is FROZEN: centroids still at version 1
    assert(VM.latestCommitted(spark, s"$root/cents").contains(1L))
  }
}
