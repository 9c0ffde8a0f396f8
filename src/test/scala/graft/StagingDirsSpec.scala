package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{SnapshotCatalog, VersionedCatalog, VersionedManifest}

/** Pins the staging primitives: [[StagingDirs.dir]] names exactly what the
  * hand-spelled `<tmpdir>/graft_<tag>_<applicationId>_<key>` paths named and
  * follows a moved `java.io.tmpdir`, as q93's stream sink does;
  * [[StagingDirs.fresh]] makes a new directory on every call;
  * [[StagingDirs.once]] builds once and marks only a build that returned;
  * [[VersionedCatalog.mount]] writes only the catalog's own keys.
  */
class StagingDirsSpec extends SparkSpec {

  private def tmpdir = System.getProperty("java.io.tmpdir")
  private def app = spark.sparkContext.applicationId

  private def scratch(): String =
    tempDir("graft_stagingspec")

  test("dir spells the dataset-keyed, run-keyed and unkeyed paths byte for byte") {
    assert(StagingDirs.dir(spark, "tt", sf0001) ===
      s"$tmpdir/graft_tt_${app}__root_testdata_sf0.001")
    assert(StagingDirs.dir(spark, "vingest_ckpt", "r7") ===
      s"$tmpdir/graft_vingest_ckpt_${app}_r7")
    assert(StagingDirs.dir(spark, "v2write") === s"$tmpdir/graft_v2write_$app")
  }

  test("dir reads java.io.tmpdir on every call") {
    val before = System.getProperty("java.io.tmpdir")
    val moved = scratch()
    try {
      assert(StagingDirs.dir(spark, "tt", sf0001).startsWith(s"$before/"))
      System.setProperty("java.io.tmpdir", moved)
      assert(StagingDirs.dir(spark, "tt", sf0001) ===
        s"$moved/graft_tt_${app}__root_testdata_sf0.001")
    } finally System.setProperty("java.io.tmpdir", before)
  }

  test("q93's foreachBatch sink lands under a moved java.io.tmpdir") {
    val before = tmpdir
    val moved = scratch()
    try {
      System.setProperty("java.io.tmpdir", moved)
      Measure.once(spark)(SparkEntry.queries("q93_stream_stateful")(spark, sf0001))
    } finally System.setProperty("java.io.tmpdir", before)
    val ls = Files.list(Paths.get(moved))
    val sinks =
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_q93_sink")).toList
      finally ls.close()
    assert(sinks.size === 1, s"q93 sink dirs under $moved: $sinks")
  }

  test("fresh makes a new, created, registered dir on every call, under a moved java.io.tmpdir") {
    val before = tmpdir
    val moved = scratch()
    val made =
      try {
        System.setProperty("java.io.tmpdir", moved)
        Seq.fill(2)(StagingDirs.fresh(spark, "freshspec"))
      } finally System.setProperty("java.io.tmpdir", before)
    assert(made.distinct.size === 2, made)
    made.foreach { d =>
      assert(d.startsWith(s"$moved/graft_freshspec_${app}_r"))
      assert(Files.isDirectory(Paths.get(d)))
      assert(StagingDirs.isRegistered(d))
    }
  }

  test("once builds exactly once across two calls") {
    val dir = scratch()
    var builds = 0
    StagingDirs.once(dir) { builds += 1 }
    StagingDirs.once(dir) { builds += 1 }
    assert(builds === 1)
    assert(Files.exists(Paths.get(dir, "_STAGED")))
  }

  test("a build that throws leaves no marker and is run again") {
    val dir = scratch()
    intercept[IllegalStateException] {
      StagingDirs.once(dir) { throw new IllegalStateException("half-landed") }
    }
    assert(!Files.exists(Paths.get(dir, "_STAGED")))
    var builds = 0
    StagingDirs.once(dir) { builds += 1 }
    assert(builds === 1)
    assert(Files.exists(Paths.get(dir, "_STAGED")))
  }

  test("mount sets exactly the catalog's three keys and resolves its tables") {
    val root = StagingDirs.dir(spark, "mountspec")
    spark.range(3).write.mode("overwrite").parquet(s"$root/t/v=1")
    VersionedManifest.commit(spark, s"$root/t", 1, "load")
    SnapshotCatalog.commit(spark, root, 1, Map("t" -> 1L))
    val name = "gmountspec"
    def keys = spark.conf.getAll.filter(_._1.startsWith(s"spark.sql.catalog.$name"))
    assert(keys.isEmpty)
    assert(VersionedCatalog.mount(spark, name, root, pinned = true) === name)
    assert(keys === Map(
      s"spark.sql.catalog.$name" -> classOf[VersionedCatalog].getName,
      s"spark.sql.catalog.$name.root" -> root,
      s"spark.sql.catalog.$name.pinned" -> "true"))
    assert(spark.table(s"$name.tables.t").count() === 3)
  }
}
