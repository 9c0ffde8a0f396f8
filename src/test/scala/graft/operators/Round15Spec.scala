package graft.operators

import graft.SparkSpec
import graft.GraftSession.withConf
import graft.sources.{VersionedManifest => VM}
import org.apache.spark.sql.functions._

/** Round-15 contracts: the optimization round's operator-internal changes
  * must be result-invariant and their mechanics observable —
  *   - committed IVF lists carry per-file cid range stats (guide §6),
  *     appends honestly carry none, compaction re-stats;
  *   - the probed-cell pruned read serves the EXACT same rows as the full
  *     versioned read, and actually skips files on a clustered layout;
  *   - compaction leaves the lists cell-clustered (each cid in one file);
  *   - the components() fixpoint change (partition-preserving loop) is
  *     covered by the existing q85/q113/q357/q398 oracle + spec rows.
  */
class Round15Spec extends SparkSpec {

  private def tmp(tag: String): String =
    graft.StagingDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_r15_${tag}_" +
        spark.sparkContext.applicationId)

  test("lists versions: build carries cid colstats, append none, compaction re-stats") {
    val d = sf0001
    val root = tmp("stats")
    Similarity.buildIvfIndex(spark, d, root, baseOnly = true)
    assert(VM.hasColStats(spark, s"$root/lists", 1, "cid"),
      "built lists v1 must carry colstats=cid lines")
    Similarity.appendToIvfIndex(spark, d, root)
    assert(!VM.hasColStats(spark, s"$root/lists", 2, "cid"),
      "append v2 carries no stats — readers must full-scan honestly")
    Similarity.compactIvfIndex(spark, root)
    assert(VM.hasColStats(spark, s"$root/lists", 3, "cid"),
      "compaction must re-stat the clustered layout")
  }

  test("probed-cell pruning: pruned serve == full serve; files skipped on the clustered layout") {
    val d = sf0001
    val root = tmp("prune")
    Similarity.buildIvfIndex(spark, d, root, baseOnly = true)
    Similarity.appendToIvfIndex(spark, d, root)
    Similarity.compactIvfIndex(spark, root)
    val key = "spark.graft.ivf.pruneMinBytes"
    // full-read serve: gate above any local size so pruning never fires
    val full = withConf(spark, key -> Long.MaxValue.toString) { spark =>
      Similarity.serveFromIvfIndex(spark, d, root).collect().toSeq
    }
    // pruned serve: gate 0 forces the file-skipping path
    val pruned = withConf(spark, key -> "0") { spark =>
      Similarity.serveFromIvfIndex(spark, d, root).collect().toSeq
    }
    assert(pruned == full,
      s"pruned serving changed the result:\n$pruned\nvs\n$full")
    // the skip is real: on the compacted (cid-clustered) version, a
    // single cell's file subset is strictly smaller whenever the layout
    // spans more than one file
    val lv = VM.latestCommitted(spark, s"$root/lists").get
    val nFiles = VM.describe(spark, s"$root/lists", lv).linesIterator
      .count(_.startsWith("colstats=cid:"))
    val cid0 = VM.readAt(spark, s"$root/lists", lv)
      .agg(min(col("cid"))).head().getLong(0)
    val sub = VM.prunedFilesOnSet(spark, s"$root/lists", lv, "cid", Seq(cid0))
    assert(sub.nonEmpty, "the probed cell's own file must survive pruning")
    assert(nFiles == 1 || sub.size < nFiles,
      s"expected a strict file subset, got ${sub.size} of $nFiles")
  }

  test("compaction leaves lists cell-clustered: every cid lives in exactly one file") {
    val d = sf0001
    val root = tmp("cluster")
    Similarity.buildIvfIndex(spark, d, root, baseOnly = true)
    Similarity.appendToIvfIndex(spark, d, root)
    Similarity.compactIvfIndex(spark, root)
    val lv = VM.latestCommitted(spark, s"$root/lists").get
    val spread = VM.readAt(spark, s"$root/lists", lv)
      .select(col("cid"), input_file_name().as("f"))
      .groupBy(col("cid"))
      .agg(countDistinct(col("f")).as("nf"))
      .agg(max(col("nf"))).head().getLong(0)
    assert(spread == 1L,
      s"a cid spans $spread files after compaction — layout not cell-clustered")
  }

  test("pruning an unstatted version falls back to the full read (result-identical)") {
    val d = sf0001
    val root = tmp("fallback")
    Similarity.buildIvfIndex(spark, d, root, baseOnly = true)
    Similarity.appendToIvfIndex(spark, d, root) // v2: no colstats
    val key = "spark.graft.ivf.pruneMinBytes"
    val served = withConf(spark, key -> "0") { spark =>
      Similarity.serveFromIvfIndex(spark, d, root).collect().toSeq
    }
    val ref = Similarity.serveFromIvfIndex(spark, d, root).collect().toSeq
    assert(served == ref)
  }
}
