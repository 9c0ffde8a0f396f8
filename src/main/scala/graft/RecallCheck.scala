package graft

/** Two-stage recall gauge (r12 verdict "What's missing" #3): recall@5 of
  * the committed-index shortlist → MaxSim rerank pipeline (q413's body)
  * against the EXACT brute-force MaxSim top-5 (q412's scorer over the
  * whole corpus), swept over the probe budget `nprobe` — THE serving
  * quality dial a production retrieval estate watches. Per (dataset,
  * nprobe): recall@5 over the 10 standard queries, candidate-pair count
  * (the probed-volume axis), and `Measure.warmMin` serve seconds, so the
  * recall-vs-latency trade reads off one table. A second sweep covers
  * the MULTI-VECTOR candidate generator (q417's PLAID-shaped path) over
  * per-subvector budgets `mv_subnpr`, so the pooled-vs-multi-vector
  * comparison (r13 verdict "next" #1) is measured on the same axes.
  *
  * The index is the engine's own durable estate
  * ([[operators.Similarity.ivfIndexRoot]]) — a committed artifact is
  * reused, a missing one is built once (reported).
  *
  * Usage: runMain graft.RecallCheck <dirA> [dirB ...]
  */
object RecallCheck {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.cpus("32"))
    spark.sparkContext.setLogLevel("ERROR")
    require(args.nonEmpty, "usage: RecallCheck <dir> [dir ...]")
    val S = operators.Similarity
    args.foreach { d =>
      val root = S.ivfIndexRoot(spark, d, "full")
      val pre = graft.sources.VersionedManifest
        .latestCommitted(spark, s"$root/lists").nonEmpty
      val (_, tBuild) = Measure.timed(S.buildIvfIndex(spark, d, root, baseOnly = false))
      println(f"[recall] $d index: " +
        (if (pre) "committed estate reused" else f"built in $tBuild%.2f s"))
      val committed = S.committedNpr(spark, root)
      def top5Set(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "nid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact baselines: 10 queries × corpus, top-5 each, both scorers —
      // cosine recall isolates index quality; MaxSim recall adds the
      // stage-1-geometry-vs-late-interaction mismatch on top
      val exactMs = top5Set(S.exactMaxSimTop5(spark, d, 10))
      val exactCos = top5Set(S.exactCosineTop5(spark, d, 10))
      CacheHygiene.release(spark)
      val budgets = (Seq(1L, 2L, 4L, 8L, 16L, 32L) ++
        Seq(committed, 4L * committed)).distinct.sorted.filter(_ >= 1L)
      budgets.foreach { npr =>
        def serve() = S.twoStageMaxSimTop5(spark, d, root, Some(npr))
        val tServe = Measure.warmMin(spark)(serve())
        val recallMs = (exactMs &
          top5Set(serve())).size.toDouble / exactMs.size
        val recallCos = (exactCos &
          top5Set(S.serveFromIvfIndex(spark, d, root, Some(npr))))
          .size.toDouble / exactCos.size
        val cand = S.ivfCandidatePairs(spark, d, root, Some(npr)).count()
        val mark =
          if (npr == committed) " <- committed cosine budget"
          else if (npr == 4 * committed) " <- q413 late-interaction budget (4x)"
          else ""
        println(f"[recall] $d nprobe=$npr%3d maxsim_recall@5=$recallMs%.3f " +
          f"cosine_recall@5=$recallCos%.3f cand=$cand%6d serve=$tServe%.2f s$mark")
        CacheHygiene.release(spark)
      }
      // multi-vector (PLAID-style) candidate generation on the SAME
      // artifact (q417): per-subvector budgets, union shortlist —
      // `cand` (pairs the rerank scores) is the probed-volume axis to
      // compare against the pooled rows above at equal recall
      val subBudgets = (Seq(1L, 2L, 3L, 4L, 6L, 8L) ++
        Seq(S.mvSubNpr(committed), committed)).distinct.sorted.filter(_ >= 1L)
      subBudgets.foreach { sub =>
        def serve() = S.multiVectorMaxSimTop5(spark, d, root, Some(sub))
        val tServe = Measure.warmMin(spark)(serve())
        val recallMs = (exactMs &
          top5Set(serve())).size.toDouble / exactMs.size
        val cand = S.multiVectorCandidatePairs(spark, d, root, Some(sub)).count()
        val mark = if (sub == S.mvSubNpr(committed))
          " <- q417 default (npr per subvector)" else ""
        println(f"[recall] $d mv_subnpr=$sub%3d maxsim_recall@5=$recallMs%.3f " +
          f"cand=$cand%6d serve=$tServe%.2f s$mark")
        CacheHygiene.release(spark)
      }
      // PLAID two-tier prune (q419): same candidates as the mv default,
      // but the exact scorer touches only PlaidPruneK docs/query — the
      // row shows what recall that budget costs vs the unpruned q417
      S.buildSq8Sidecar(spark, d, root)
      def servePruned() = S.plaidPrunedMaxSimTop5(spark, d, root)
      val tPruned = Measure.warmMin(spark)(servePruned())
      val recallPruned = (exactMs &
        top5Set(servePruned())).size.toDouble / exactMs.size
      println(f"[recall] $d plaid_pruned(K=${S.PlaidPruneK}) " +
        f"maxsim_recall@5=$recallPruned%.3f exact_docs_per_q=${S.PlaidPruneK} " +
        f"serve=$tPruned%.2f s <- q419")
      CacheHygiene.release(spark)
    }
    spark.stop()
  }
}
