package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Runs `body` and counts the Spark jobs it launched. Listener events
    * arrive asynchronously but in order, so a sentinel job run afterwards
    * marks the point where every job of `body` has been seen.
    */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spark-spec-${System.nanoTime}"
    val sentinel = s"$group-end"
    val seen = new AtomicInteger
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => seen.incrementAndGet()
          case `sentinel` => ended.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs during", interruptOnCancel = false)
      val out = body
      sc.setJobGroup(sentinel, "jobs during sentinel", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      assert(ended.await(30, TimeUnit.SECONDS), "the sentinel job never reached the listener")
      (out, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
