package graft.sources

import graft.SparkSpec

/** Pins the versioned-manifest snapshot-isolation contract (r9 verdict #3)
  * step by step — the sequence q247's oracle can only check end-state-wise:
  * uncommitted data is invisible, the commit point is the manifest rename,
  * and a reader planned before a commit keeps its version afterwards.
  */
class SnapshotSpec extends SparkSpec {

  test("versioned manifest: readers are isolated from an in-flight rewrite") {
    import spark.implicits._
    val dir = tempDir("graft_snap_spec")

    // v=1 data fully landed but NOT committed: no reader may see it
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/v=1")
    assert(VersionedManifest.latestCommitted(spark, dir).isEmpty,
      "uncommitted landing visible as a version")
    intercept[IllegalStateException] {
      VersionedManifest.readLatest(spark, dir)
    }

    // the commit point: one manifest rename publishes v=1
    VersionedManifest.commit(spark, dir, 1, "initial load")
    assert(VersionedManifest.latestCommitted(spark, dir).contains(1L))
    val plannedAtV1 = VersionedManifest.readLatest(spark, dir)

    // an in-flight rewrite: v=2 data fully landed, manifest not published —
    // concurrent readers still plan and read v=1
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(s"$dir/v=2")
    assert(VersionedManifest.latestCommitted(spark, dir).contains(1L),
      "in-flight rewrite became visible before its commit")
    assert(VersionedManifest.readLatest(spark, dir).count() == 2,
      "mid-rewrite reader saw uncommitted data")

    // publish v=2; a reader planned BEFORE the commit keeps its snapshot
    VersionedManifest.commit(spark, dir, 2, "rewrite")
    assert(plannedAtV1.count() == 2,
      "already-planned reader retargeted by a later commit")
    assert(VersionedManifest.readLatest(spark, dir).count() == 3,
      "new reader did not resolve the freshly committed version")
  }

  test("time travel to a committed parquet version launches no job") {
    import spark.implicits._
    val dir = tempDir("graft_snap_jobs")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/v=1")
    VersionedManifest.commit(spark, dir, 1, "initial load")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(s"$dir/v=2")
    VersionedManifest.commit(spark, dir, 2, "rewrite")
    val (at1, jobsAt) = jobsDuring(VersionedManifest.readAt(spark, dir, 1))
    val (latest, jobsLatest) = jobsDuring(VersionedManifest.readLatest(spark, dir))
    assert(jobsAt === 0, "readAt inferred its schema in a Spark job")
    assert(jobsLatest === 0, "readLatest inferred its schema in a Spark job")
    assert(at1.schema === spark.read.parquet(s"$dir/v=1").schema)
    assert(at1.count() === 2)
    assert(latest.count() === 3)
  }
}
