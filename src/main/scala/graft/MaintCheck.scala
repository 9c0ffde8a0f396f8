package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Scale gauge for the estate-maintenance loop (r9 verdict #4): runs the
  * q233 DPP star and q245 within-partition compaction at each given
  * dataset dir and reports, per decade, the evidence PlanSpec pins only at
  * test scale — q233's months-READ metric from the executed fact scan
  * (must stay ≤ 12 however big the layout grows) and q245's
  * files-per-partition-dir after compaction (must be exactly 1). Timing
  * follows the ScaleCheck protocol: construction (which lands the layout)
  * is untimed, then min of 2 timed re-executions per query.
  *
  * Usage: runMain graft.MaintCheck <dirA> [dirB ...]
  */
object MaintCheck {

  private def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.cpus("32"))

    args.foreach { d =>
      // ---- q233: DPP months-read at this scale
      val q233 = SparkEntry.queries("q233_dpp_star")
      val df = q233(spark, d) // first construction lands the hive layout
      df.collect() // warm + the execution whose scan metrics we read
      val fact = scans(df.queryExecution.executedPlan)
        .find(_.metadata.getOrElse("Location", "").contains("graft_dpp_"))
        .getOrElse(sys.error("q233 fact scan not found in executed plan"))
      val monthsRead = fact.metrics("numPartitions").value
      val layout = java.nio.file.Paths.get(StagingDirs.dir(spark, "dpp", d))
      val ls = java.nio.file.Files.list(layout)
      val monthsTotal =
        try ls.iterator().asScala.count(
          _.getFileName.toString.startsWith("l_ship_ym="))
        finally ls.close()
      val t233 = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        q233(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[maint] $d q233_dpp_star: ${t233}%.2f s, " +
        s"monthsRead=$monthsRead of $monthsTotal partition dirs")
      CacheHygiene.release(spark)

      // ---- q245: files per partition dir after compaction
      val q245 = SparkEntry.queries("q245_partitioned_compaction")
      q245(spark, d).collect() // stages fragmented + compacted layouts
      val compacted = java.nio.file.Paths.get(
        StagingDirs.dir(spark, "pcompact", d), "compacted")
      val ds = java.nio.file.Files.list(compacted)
      val perDir =
        try ds.iterator().asScala
          .filter(_.getFileName.toString.startsWith("o_orderpriority="))
          .map { p =>
            val fl = java.nio.file.Files.list(p)
            try p.getFileName.toString ->
              fl.iterator().asScala.count(_.toString.endsWith(".parquet"))
            finally fl.close()
          }.toSeq
        finally ds.close()
      val t245 = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        q245(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val counts = perDir.map(_._2)
      println(f"[maint] $d q245_partitioned_compaction: ${t245}%.2f s, " +
        s"${perDir.size} partition dirs, files/dir min=${counts.min} " +
        s"max=${counts.max}")
      CacheHygiene.release(spark)

      // ---- q251: manifest file skipping — files READ vs files in layout
      val q251 = SparkEntry.queries("q251_file_skipping")
      val df251 = q251(spark, d) // first construction lands layout + stats
      df251.collect()
      val skipScan = scans(df251.queryExecution.executedPlan)
        .find(_.metadata.getOrElse("Location", "").contains("graft_skip_"))
        .getOrElse(sys.error("q251 pruned scan not found in executed plan"))
      val filesRead = skipScan.metrics("numFiles").value
      val dataDir = java.nio.file.Paths.get(StagingDirs.dir(spark, "skip", d), "data")
      val fs251 = java.nio.file.Files.list(dataDir)
      val filesTotal =
        try fs251.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally fs251.close()
      val t251 = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        q251(spark, d).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[maint] $d q251_file_skipping: ${t251}%.2f s, " +
        s"filesRead=$filesRead of $filesTotal layout files")
      CacheHygiene.release(spark)
    }
    spark.stop()
  }
}
