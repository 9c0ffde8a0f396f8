package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.sources.{VersionedManifest => VM}
import org.apache.spark.sql.functions._

/** Round-14 contracts: the r13 verdict's asks — q416's per-list occupancy
  * cap proven to BIND on a hot-list geometry, q417's multi-vector (PLAID-
  * style) candidate generation beating the 4×-pooled budget, the estate
  * retention sweep, the fingerprint collision guard — plus the r13 ADVICE
  * items (q415 `_SUCCESS` epoch gate, `_commits` tmp reclamation).
  */
class Round14Spec extends SparkSpec {

  // ------------------------------- q416 per-list cap (r13 "wrong" #1)

  test("q416's per-list cap BINDS on a Zipf-cluster hot list") {
    import spark.implicits._
    // a duplicate-cluster geometry: one hot cell holding 1000 co-located
    // vectors (the ScaleGen-decade shape: verbatim copies assign to ONE
    // list by construction) + 40 uniform cells of 20
    val cap = Similarity.NearDupListCap
    val hot = (0 until 1000).map(i => (0L, i.toLong, Seq(1L, 2L)))
    val cold = for (c <- 1 to 40; i <- 0 until 20)
      yield (c.toLong, (10000 + c * 100 + i).toLong, Seq(1L, 2L))
    val lists = (hot ++ cold).toDF("cid", "vec_id", "v")
    val pairs = Similarity.cappedListPairs(lists, cap).count()
    val hotUncapped = 1000L * 999 / 2
    val hotCapped = cap.toLong * (cap - 1) / 2
    val coldPairs = 40L * (20L * 19 / 2)
    assert(pairs == hotCapped + coldPairs,
      s"capped pairs $pairs != ${hotCapped + coldPairs} " +
        s"(hot list must contribute C($cap,2), not C(1000,2))")
    assert(pairs < hotUncapped / 30,
      "the cap must reduce the hot list's quadratic head by >30x here")
    // deterministic membership: the cap keeps the LOWEST vec_ids, so a
    // replay (and the DuckDB oracle) selects the identical survivors
    val kept = lists.withColumn("slot", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
          .orderBy(col("vec_id"))))
      .filter(col("slot") <= cap && col("cid") === 0L)
      .agg(max(col("vec_id"))).head().getLong(0)
    assert(kept == cap - 1L, "survivors must be the cap lowest vec_ids")
  }

  test("q416 still matches shape and is list-local at sf0.001") {
    import spark.implicits._
    val hist = SparkEntry.queries("q416_index_neardup")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val candPairs = hist.values.sum
    val corpus = graft.Tables.embeddings(spark, sf0001).count()
    assert(candPairs > 0)
    assert(candPairs < corpus * (corpus - 1) / 2 / 4)
  }

  // ------------------- q417 multi-vector candidates (r13 "next" #1)

  test("q417 multi-vector serving: recall >= pooled 4x at comparable volume") {
    val root = Similarity.ivfIndexRoot(spark, sf0001, "full")
    Similarity.buildIvfIndex(spark, sf0001, root, baseOnly = false)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top5(Similarity.exactMaxSimTop5(spark, sf0001, 10))
    val pooled = top5(Similarity.twoStageMaxSimTop5(spark, sf0001, root))
    val mv = top5(Similarity.multiVectorMaxSimTop5(spark, sf0001, root))
    val recallPooled = (exact & pooled).size.toDouble / exact.size
    val recallMv = (exact & mv).size.toDouble / exact.size
    assert(recallMv >= recallPooled,
      f"multi-vector recall $recallMv%.3f below pooled-4x $recallPooled%.3f")
    assert(recallMv >= 0.6, f"multi-vector recall $recallMv%.3f below 0.6")
    // candidate volume parity: the union of 8 sub-shortlists must stay
    // within 10% of the pooled 4x budget's candidate rows (RecallCheck
    // r14 measured -3.5%/+2.2%/+2.3% at the three driver scales)
    val candMv = Similarity.multiVectorCandidatePairs(spark, sf0001, root).count()
    val candPooled = Similarity.ivfCandidatePairs(spark, sf0001, root,
      Some(4L * Similarity.committedNpr(spark, root))).count()
    assert(candMv <= candPooled * 11 / 10,
      s"multi-vector candidates $candMv exceed pooled-4x $candPooled by >10%")
    // and it serves from the artifact — never trains
    val df = Similarity.multiVectorMaxSimTop5(spark, sf0001, root)
    assert(!df.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("posexplode"),
      "multi-vector serving must not train")
  }

  test("q419 two-tier prune: recall matches unpruned q417 at a 32-doc exact budget") {
    val root = Similarity.ivfIndexRoot(spark, sf0001, "full")
    Similarity.buildIvfIndex(spark, sf0001, root, baseOnly = false)
    Similarity.buildSq8Sidecar(spark, sf0001, root)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top5(Similarity.exactMaxSimTop5(spark, sf0001, 10))
    val unpruned = top5(Similarity.multiVectorMaxSimTop5(spark, sf0001, root))
    val pruned = top5(Similarity.plaidPrunedMaxSimTop5(spark, sf0001, root))
    val rUnpruned = (exact & unpruned).size.toDouble / exact.size
    val rPruned = (exact & pruned).size.toDouble / exact.size
    // RecallCheck r14 measured EQUALITY at all four scales; the floor
    // leaves a small margin for a regenerated-testdata geometry
    assert(rPruned >= rUnpruned - 0.1,
      f"SQ8 prune lost recall: $rPruned%.3f vs unpruned $rUnpruned%.3f")
    assert(rPruned >= 0.6, f"pruned recall $rPruned%.3f below floor")
    // the sidecar is a committed artifact: a second serve is build-free
    val before = graft.sources.VersionedManifest
      .latestCommitted(spark, s"$root/sq8")
    assert(before.contains(1L), "sq8 sidecar must be committed at v1")
    Similarity.buildSq8Sidecar(spark, sf0001, root) // idempotent
    assert(graft.sources.VersionedManifest
      .latestCommitted(spark, s"$root/sq8").contains(1L))
  }

  test("q418 streaming multi-vector serving equals q417's batch results") {
    // per-qid ranking windows are batch-local and each qid lives in one
    // batch, so the drained epoch union must equal batch serving
    // row-for-row — the q415/q413 parity argument on the recommended
    // candidate generator
    val streamed = SparkEntry.queries("q418_stream_multivec")(spark, sf0001)
      .collect()
    val batch = SparkEntry.queries("q417_multivec_serving")(spark, sf0001)
      .collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  // --------------------- fingerprint collision guard (r13 ADVICE #2)

  test("a stored-signature mismatch re-keys the estate root") {
    val base = graft.StagingDirs.dir(spark, "r14_fpguard")
    val primary = Similarity.ivfIndexRootIn(base, sf0001, "full")
    assert(Similarity.ivfIndexRootIn(base, sf0001, "full") == primary,
      "root derivation must be deterministic")
    // simulate a truncated-digest collision: the primary root exists but
    // stores a DIFFERENT dataset's full signature
    new java.io.File(primary).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(primary, "signature.txt"), "someone-else")
    val rekeyed = Similarity.ivfIndexRootIn(base, sf0001, "full")
    assert(rekeyed != primary,
      "a signature mismatch must re-key instead of serving a stale index")
    assert(rekeyed.length > primary.length,
      "the re-keyed root must carry the untruncated digest")
  }

  // --------------------------- estate retention sweep (r13 ADVICE #4)

  test("vacuumEstate reclaims stale roots, spares live and young ones") {
    import spark.implicits._
    val base = graft.StagingDirs.dir(spark, "r14_estategc")
    new java.io.File(base).mkdirs()
    // live root: the current fingerprint of sf0.001
    val live = new java.io.File(
      Similarity.ivfIndexRootIn(base, sf0001, "full"))
    live.mkdirs()
    // stale root: an orphaned fingerprint from a regenerated dataset
    val stale = new java.io.File(s"$base/ivfidx2_full_deadbeef00000000_old")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stale.getPath, "junk"), "x")
    // young stranger: same shape, but too recent to reclaim
    val young = new java.io.File(s"$base/ivfidx2_full_0123456789abcdef_new")
    young.mkdirs()
    val hourAgo = System.currentTimeMillis() - 3600L * 1000
    stale.setLastModified(hourAgo)
    live.setLastModified(hourAgo)
    val removed = Similarity.vacuumEstate(spark, base, Seq(sf0001),
      retainMs = 10 * 60 * 1000L)
    assert(removed == Seq(stale.getName),
      s"expected exactly the stale root reclaimed, got $removed")
    assert(!stale.exists, "stale root must be gone")
    assert(live.exists, "live root must survive (even when old)")
    assert(young.exists, "young root must survive the retention gate")
  }

  // -------------------------- q415 _SUCCESS epoch gate (r13 ADVICE #1)

  test("q415's landed epochs carry the _SUCCESS commit marker") {
    SparkEntry.queries("q415_stream_two_stage")(spark, sf0001).collect()
    val outs = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().filter(_.getName.startsWith(
        s"graft_servestream_${spark.sparkContext.applicationId}"))
      .filter(_.getName.endsWith("_out"))
    assert(outs.nonEmpty, "q415 must land an output table")
    val epochs = outs.flatMap(o => Option(o.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("epoch="))
    assert(epochs.nonEmpty, "q415 must land epoch dirs")
    epochs.foreach { e =>
      assert(new java.io.File(e, "_SUCCESS").exists(),
        s"epoch dir ${e.getName} lacks the _SUCCESS marker the " +
          "idempotence guard keys on")
    }
  }

  // --------------------- _commits tmp reclamation (r13 ADVICE #3)

  test("vacuum reclaims aged .tmp bodies in _commits, spares young ones") {
    import spark.implicits._
    val dir = graft.StagingDirs.dir(spark, "r14_tmpgc")
    Seq((1L, 1L)).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, "seed")
    // a crash between the body write and the createLink publish strands
    // a writer-unique tmp forever — simulate one aged and one fresh
    val commits = java.nio.file.Paths.get(dir, "_commits")
    val old = commits.resolve(".2.deadbeef.tmp")
    val fresh = commits.resolve(".2.cafebabe.tmp")
    java.nio.file.Files.writeString(old, "stranded")
    java.nio.file.Files.writeString(fresh, "in-flight")
    java.nio.file.Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    VM.vacuum(spark, dir, stageRetainMs = 10 * 60 * 1000L)
    assert(!java.nio.file.Files.exists(old),
      "aged tmp body must be reclaimed")
    assert(java.nio.file.Files.exists(fresh),
      "young tmp body (a possibly in-flight writer) must survive")
    // committed manifest untouched
    assert(VM.committedVersions(spark, dir) == Seq(1L))
  }
}
