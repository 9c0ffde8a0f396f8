package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs, mirroring the driver harness config
  * (Verify.scala): local[n], shuffle.partitions=n, UTC, UI off. Sessions are
  * reused across suites via getOrCreate, so the JVM pays Spark startup once.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected val sf0001 = "/root/testdata/sf0.001"
  protected val sf001 = "/root/testdata/sf0.01"

  protected lazy val spark: SparkSession = SparkSpec.session

  /** A fresh `<tmpdir>/<prefix><random>` directory, deleted at JVM exit. */
  protected def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  lazy val session: SparkSession = {
    val cpus = GraftSession.cpus("8")
    val warehouse = tempDir("graft_wh")
    val s = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tempDir(prefix: String): String =
    StagingDirs.register(java.nio.file.Files.createTempDirectory(prefix).toString)
}
