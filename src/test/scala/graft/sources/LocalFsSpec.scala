package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{Measure, SparkEntry, SparkSpec}

/** Pins [[LocalFs]]: the session's local filesystem is the spawn-free one,
  * it behaves like Hadoop's stock `LocalFileSystem` and `LocalFs` (modes,
  * link status, `.crc` sidecars and their verification), and the estate-ingest writes
  * start no `chmod` or `readlink` process.
  */
class LocalFsSpec extends SparkSpec {

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session resolves file: to the spawn-free FileSystem and AbstractFileSystem") {
    // FileSystem's cache ignores the conf: check the instances the engine gets
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach { conf =>
        assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
          classOf[GraftLocalFileSystem])
        assert(FileSystem.getLocal(conf).getRawFileSystem.getClass ===
          classOf[NioRawLocalFileSystem])
        assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ===
          classOf[GraftLocalFs])
      }
  }

  test("modes, setPermission and link status match the stock LocalFileSystem") {
    val root = new Path(tempDir("graft_localfs"))
    val stock = fresh(new LocalFileSystem())
    val nio = fresh(new GraftLocalFileSystem())
    def both[T](name: String)(f: (FileSystem, Path) => T): (T, T) =
      (f(stock, new Path(root, s"stock_$name")), f(nio, new Path(root, s"nio_$name")))

    val created = both("file") { (fs, p) => fs.create(p).close(); mode(p) }
    assert(created._1 === created._2)
    val made = both("dir") { (fs, p) => assert(fs.mkdirs(new Path(p, "a/b"))); mode(p) }
    assert(made._1 === made._2)
    Seq(0x180, 0x1e8, 0x1ff, 0x3ff).foreach { m => // 0600, 0750, 0777, sticky 01777
      val set = both("file") { (fs, p) => fs.setPermission(p, new FsPermission(m.toShort)); mode(p) }
      assert(set === ((m, m)), f"mode 0$m%o")
    }

    val target = new Path(root, "target")
    Files.createSymbolicLink(Paths.get(root.toUri.getPath).resolve("link"), Paths.get(target.toUri.getPath))
    nio.create(target).close()
    Seq(target, new Path(root, "stock_dir"), new Path(root, "link"),
        new Path(s"file:${root.toUri.getPath}/link")).foreach { p =>
      val (a, b) = (stock.getFileLinkStatus(p), nio.getFileLinkStatus(p))
      assert((a.getPath, a.isDirectory, a.isSymlink, a.getLen) ===
        ((b.getPath, b.isDirectory, b.isSymlink, b.getLen)), p)
      if (a.isSymlink) assert(a.getSymlink === b.getSymlink)
    }
    assert(nio.getFileLinkStatus(new Path(root, "link")).isSymlink)
    Seq(stock, nio).foreach { fs =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(root, "missing")))
    }
  }

  test("a .crc sidecar is written and read back as by the stock local filesystems") {
    val root = tempDir("graft_localfs_crc")
    val conf = spark.sessionState.newHadoopConf()
    val viaFs = new Path(root, "fs.bin")
    val viaFc = new Path(root, "fc.bin")
    val fs = FileSystem.get(viaFs.toUri, conf)
    val fc = FileContext.getFileContext(conf)
    val out = fs.create(viaFs); out.write(Array.fill[Byte](4096)(7)); out.close()
    val fcOut = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    fcOut.write(Array.fill[Byte](4096)(7)); fcOut.close()
    Seq(viaFs, viaFc).foreach { p =>
      assert(Files.exists(Paths.get(root, s".${p.getName}.crc")), p)
      val ch = Files.newByteChannel(Paths.get(p.toUri.getPath), StandardOpenOption.WRITE)
      try ch.position(100).write(java.nio.ByteBuffer.wrap(Array[Byte](8))) finally ch.close()
    }
    intercept[ChecksumException](fs.open(viaFs).readAllBytes())
    // Hadoop's LocalFs does not verify on this FileContext read: match it
    val stockFc = FileContext.getFileContext(new Configuration())
    assert(stockFc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    assert(Try(fc.open(viaFc).readAllBytes().toSeq).toOption ===
      Try(stockFc.open(viaFc).readAllBytes().toSeq).toOption)
  }

  test("after q323 a parquet write still lands its .crc sidecars") {
    Measure.once(spark)(SparkEntry.queries("q323_versioned_stream_sink")(spark, sf0001))
    val dir = tempDir("graft_localfs_parquet")
    spark.range(10).write.mode("overwrite").parquet(dir)
    val crcs = Files.list(Paths.get(dir)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".crc"))
    assert(crcs > 0)
  }

  test("q93, q252 and q284 start no chmod or readlink process") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try Seq("q93_stream_stateful", "q252_stream_versioned_ingest", "q284_optimistic_commit")
      .foreach(q => Measure.once(spark)(SparkEntry.queries(q)(spark, sf0001)))
    finally rec.stop()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(dump)
      val spawned = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(spawned.isEmpty, spawned.take(5).mkString("\n", "\n", ""))
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }
}
