package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.DataFrame

import graft.{CacheHygiene, GraftSession, SparkEntry}

/** Closed-loop benchmark client for the graft engine. One client thread
  * sends the queries of a mix in passes; it sends the next query only
  * after the previous one has finished and `CacheHygiene.release` has
  * returned. The engine is driven through its public entry points only:
  * `GraftSession.get` builds the session, `SparkEntry.queries(q)` is the
  * construct phase and a `noop` write is the execute phase.
  *
  * Usage: `Runner <config file>`, where the file holds `key=value` lines:
  * `queries` (comma list, in pass order before shuffling), `data` (input
  * dir), `work` (scratch dir), `out` (result JSON), `seed`, `passes`
  * (timed passes), `trace` (0/1) and `spans` (span file
  * written when tracing). The first warm-up pass also writes every query's
  * result as parquet under `work/checks` for the caller's oracle check, so
  * no timed pass carries the check's extra execution and writes.
  *
  * Traced passes record spans from this file only: pass, then query, then
  * construct, execute and release; Spark jobs hang under construct or
  * execute by the job group set before each call.
  */
object Runner {
  val GroupPrefix = "perfbench|"
  val Cores = 4
  /** Untimed passes before timing starts: the first pays the first calls
    * (codegen, estate landing); JIT compilation keeps lowering the JVM's
    * CPU time per pass through about the fourth. */
  val WarmupPasses = 4

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (all threads), in nanoseconds. */
  private def cpuNs(): Long = os.getProcessCpuTime

  final case class Span(id: Int, parent: Int, name: String, pass: Int,
                        startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val conf = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim
      }.toMap
    val mix = conf("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val data = conf("data")
    val work = Paths.get(conf("work"))
    val seed = conf("seed").toLong
    val timedPasses = conf("passes").toInt
    val trace = conf("trace") == "1"

    val launchMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // epoch-anchored nanoseconds, so runner spans and Spark's job times
    // (epoch milliseconds) share one clock
    val epochNs0 = System.currentTimeMillis() * 1000000L - now()
    def epochNs(t: Long) = epochNs0 + t

    val t0 = now()
    val spark = GraftSession.get(Cores.toString)
    spark.sparkContext.setLogLevel("OFF")
    val sessionBuildS = secs(now() - t0)

    val registry = SparkEntry.queries
    val missing = mix.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    val oracles = SparkEntry.oracleSql
    val noOracle = mix.filterNot(oracles.contains)
    require(noOracle.isEmpty, s"queries without an oracle: ${noOracle.mkString(", ")}")
    Files.createDirectories(work)
    Files.writeString(work.resolve("oracle_sql.json"),
      mix.map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ",\n", "}"))

    val telemetry = new Telemetry
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, pass: Int, s: Long, e: Long): Int = {
      spans += Span(spans.size + 1, parent, name, pass, epochNs(s), epochNs(e))
      spans.size
    }
    def tracing(on: Boolean): Unit = {
      val sc = spark.sparkContext
      if (on) {
        sc.addSparkListener(telemetry)
        spark.listenerManager.register(telemetry.executionListener)
        spark.streams.addListener(telemetry.streamingListener)
      } else {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(telemetry)
        spark.listenerManager.unregister(telemetry.executionListener)
        spark.streams.removeListener(telemetry.streamingListener)
      }
    }

    def bytesUnder(p: Path): Long =
      if (!Files.exists(p)) 0L else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }

    val checks = work.resolve("checks")

    /** One pass over the mix in a seed-shuffled order; returns the pass
      * record. Every pass gets its own tmpdir, checkpoint root and RDD
      * checkpoint dir, so estates, state stores and checkpoints never pile
      * up across passes. They are not wiped until the run ends: the engine
      * keeps some staged artifacts (q246's warehouse) by path for the
      * session's lifetime. */
    def runPass(pass: Int, traced: Boolean, check: Boolean): PassRecord = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(mix)
      val tmp = work.resolve(s"pass-$pass").resolve("tmp")
      Files.createDirectories(tmp)
      System.setProperty("java.io.tmpdir", tmp.toString)
      spark.conf.set("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
      spark.sparkContext.setCheckpointDir(tmp.resolve("rdd-checkpoints").toString)
      val sc = spark.sparkContext
      val rec = new PassRecord(pass, traced)
      val compiles0 = Telemetry.codegenCompiles()
      val cpu0 = cpuNs()
      val passStart = now()
      val passSpan = if (traced) spans.size + 1 else 0
      if (traced) span(0, s"pass", pass, passStart, passStart) // end set below
      order.foreach { q =>
        val fn = registry(q)
        val group = s"$GroupPrefix$pass|$q|"
        def enter(phase: String): Unit = if (traced) {
          PerfbenchBus.drain(sc)
          telemetry.phase = group + phase
          sc.setJobGroup(group + phase, s"$q $phase", interruptOnCancel = false)
        }
        val qr = new QueryRecord(q)
        val qStart = now()
        var df: DataFrame = null
        try {
          enter("construct")
          val c0 = now()
          df = fn(spark, data)
          val c1 = now()
          qr.constructS = secs(c1 - c0)
          enter("execute")
          df.write.format("noop").mode("overwrite").save()
          val e1 = now()
          qr.executeS = secs(e1 - c1)
          qr.latencyS = secs(e1 - qStart)
          if (traced) {
            enter("release")
            val qSpan = span(passSpan, s"query:$q", pass, qStart, e1)
            qr.constructWork = telemetry.take(group + "construct") match { case (w, _, bs) =>
              qr.batches ++= bs; w }
            val (ew, qes, ebs) = telemetry.take(group + "execute")
            qr.executeWork = ew
            qr.batches ++= ebs
            qr.plan = qes.find(PlanStats.isNoopWrite).map(PlanStats.of)
            qr.plan = qr.plan.map(p => p.copy(analysisMs = p.analysisMs +
              df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)))
            val cSpan = span(qSpan, "construct", pass, c0, c1)
            val eSpan = span(qSpan, "execute", pass, c1, e1)
            for ((w, parent) <- Seq(qr.constructWork -> cSpan, qr.executeWork -> eSpan);
                 (job, s, e) <- w.jobSpans if e >= s)
              spans += Span(spans.size + 1, parent, s"job:$job", pass,
                s * 1000000L, e * 1000000L)
            qr.spanId = qSpan
          }
          if (check) {
            val k0 = now()
            df.write.mode("overwrite").parquet(checks.resolve(q).toString)
            qr.checkS = secs(now() - k0)
          }
        } catch {
          case t: Throwable =>
            qr.error = Some(Option(t.getMessage).getOrElse(t.getClass.getName)
              .linesIterator.toSeq.headOption.getOrElse("").take(300))
        }
        qr.persistedRdds = CacheHygiene.persistedRddCount(spark)
        val r0 = now()
        CacheHygiene.release(spark)
        val r1 = now()
        qr.releaseS = secs(r1 - r0)
        if (traced) {
          // the release's events, and everything of a query that failed
          PerfbenchBus.drain(sc)
          Seq("construct", "execute", "release").foreach(p => telemetry.discard(group + p))
        }
        if (traced && qr.spanId > 0) {
          span(qr.spanId, "release", pass, r0, r1)
          val i = qr.spanId - 1
          spans(i) = spans(i).copy(endNs = epochNs(r1))
        }
        sc.clearJobGroup()
        rec.queries += qr
      }
      val passEnd = now()
      if (traced) spans(passSpan - 1) = spans(passSpan - 1).copy(endNs = epochNs(passEnd))
      rec.wallS = secs(passEnd - passStart)
      rec.cpuS = secs(cpuNs() - cpu0)
      rec.codegenCompiles = Telemetry.codegenCompiles() - compiles0
      rec.diskBytes = bytesUnder(tmp)
      rec
    }

    val w0 = now()
    val warm = (1 - WarmupPasses to 0).map(p => runPass(p, traced = false, check = p == 1 - WarmupPasses))
    // set-up is the warm-up without the output check's extra work
    val checkS = warm.flatMap(_.queries).map(_.checkS).sum
    val warmupS = secs(now() - w0) - checkS
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0 - checkS

    // traced runs interleave traced (T) and untraced (U) passes as
    // T U U T T U U T ..., so a steady drift of pass times cancels out of
    // the difference of their medians, the tracing overhead
    val m0 = now()
    val passes = (1 to timedPasses).map { pass =>
      val traced = trace && pass % 4 < 2
      if (traced) tracing(on = true)
      val rec = runPass(pass, traced, check = false)
      if (traced) tracing(on = false)
      rec
    }
    val measuredS = secs(now() - m0)

    if (trace) Spans.write(Paths.get(conf("spans")), spans.toSeq)
    val out = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "session_build_s" -> Json.num(sessionBuildS),
      "warmup_pass_s" -> Json.num(warmupS),
      "check_s" -> Json.num(checkS),
      "warmup" -> Json.arr(warm.map(_.json)),
      "measured_s" -> Json.num(measuredS),
      "rss_peak_mb" -> Json.num(vmHwmKb() / 1024.0),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "passes" -> Json.arr(passes.map(_.json).toSeq)))
    Files.writeString(Paths.get(conf("out")), out)
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in KiB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

final class QueryRecord(val name: String) {
  var constructS, executeS, latencyS, releaseS, checkS = 0.0
  var error: Option[String] = None
  var persistedRdds = 0
  var spanId = 0
  var constructWork, executeWork = new StageWork
  var plan: Option[PlanStats] = None
  val batches = mutable.ArrayBuffer.empty[BatchStats]

  def json: String = Json.obj(Seq(
    "name" -> Json.str(name),
    "construct_s" -> Json.num(constructS), "execute_s" -> Json.num(executeS),
    "latency_s" -> Json.num(latencyS), "release_s" -> Json.num(releaseS),
    "check_s" -> Json.num(checkS),
    "error" -> error.map(Json.str).getOrElse("null")))
}

final class PassRecord(val pass: Int, val traced: Boolean) {
  val queries = mutable.ArrayBuffer.empty[QueryRecord]
  var wallS = 0.0
  /** CPU time the JVM spent in the pass. */
  var cpuS = 0.0
  /** The pass as the client sees it: every query's latency plus the
    * release after it. */
  def timeS: Double = queries.map(q => q.latencyS + q.releaseS).sum
  var diskBytes = 0L
  var codegenCompiles = 0L

  /** Per-layer totals of this pass, named by module. */
  def layers: Seq[(String, Double)] = {
    val ok = queries.filter(_.error.isEmpty).toSeq
    val cw = ok.map(_.constructWork); val ew = ok.map(_.executeWork)
    val all = cw ++ ew
    def sumW(ws: Seq[StageWork])(f: StageWork => Double) = ws.map(f).sum
    val plans = ok.flatMap(_.plan)
    def sumP(f: PlanStats => Double) = plans.map(f).sum
    val bs = ok.flatMap(_.batches)
    val construct = ok.map(_.constructS).sum
    val execute = ok.map(_.executeS).sum
    val taskCpuS = sumW(all)(_.taskCpuNs / 1e9)
    val mb = 1048576.0
    val triggerMs = bs.map(_.triggerMs).sum
    // final state of each stream: the largest value its batches reported
    val finalState = bs.groupBy(_.queryId).values.toSeq
    Seq(
      "graft.release_s" -> ok.map(_.releaseS).sum,
      "graft.persisted_rdds" -> ok.map(_.persistedRdds.toDouble).sum,
      "operators.construct_s" -> construct,
      "operators.construct_jobs" -> sumW(cw)(_.jobs),
      "operators.construct_task_s" -> sumW(cw)(_.taskRunMs / 1e3),
      "operators.construct_share" -> (if (construct + execute > 0) construct / (construct + execute) else 0.0),
      "plans.analysis_s" -> sumP(_.analysisMs / 1e3),
      "plans.optimization_s" -> sumP(_.optimizationMs / 1e3),
      "plans.planning_s" -> sumP(_.planningMs / 1e3),
      "plans.exchanges" -> sumP(_.exchanges),
      "plans.broadcast_exchanges" -> sumP(_.broadcastExchanges),
      "plans.reused_exchanges" -> sumP(_.reusedExchanges),
      "plans.smj" -> sumP(_.smj),
      "plans.shj" -> sumP(_.shj),
      "plans.bhj" -> sumP(_.bhj),
      "functions.codegen_fallback_exprs" -> sumP(_.fallbackExprs),
      "functions.wscg_stages" -> sumP(_.wscgStages),
      "functions.wscg_pipeline_s" -> sumP(_.wscgPipelineMs / 1e3),
      "functions.codegen_compiles" -> codegenCompiles.toDouble,
      "sources.output_mb" -> sumW(all)(_.outputBytes / mb),
      "sources.records_written" -> sumW(all)(_.recordsWritten),
      "sources.disk_mb" -> diskBytes / mb,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "streaming.rows_per_s" -> (if (triggerMs > 0) bs.map(_.inputRows).sum / (triggerMs / 1e3) else 0.0),
      "streaming.batch_p50_ms" -> Stats.median(bs.map(_.triggerMs.toDouble)),
      "streaming.state_rows" -> finalState.map(_.map(_.stateRows).max).sum.toDouble,
      "streaming.state_mem_mb" -> finalState.map(_.map(_.stateMemBytes).max).sum / mb,
      "spark.execute_s" -> execute,
      "spark.jobs" -> sumW(all)(_.jobs),
      "spark.stages" -> sumW(all)(_.stages),
      "spark.tasks" -> sumW(all)(_.tasks),
      "spark.task_run_s" -> sumW(all)(_.taskRunMs / 1e3),
      "spark.task_cpu_s" -> taskCpuS,
      "spark.gc_s" -> sumW(all)(_.gcMs / 1e3),
      "spark.cpu_util" -> (if (construct + execute > 0) taskCpuS / ((construct + execute) * Runner.Cores) else 0.0),
      "spark.input_mb" -> sumW(all)(_.inputBytes / mb),
      "spark.shuffle_read_mb" -> sumW(all)(_.shuffleReadBytes / mb),
      "spark.shuffle_write_mb" -> sumW(all)(_.shuffleWriteBytes / mb),
      "spark.spill_mb" -> sumW(all)(_.spillBytes / mb),
      "spark.peak_exec_mem_mb" -> all.map(_.peakExecMem).maxOption.getOrElse(0L) / mb,
      "spark.failed_tasks" -> sumW(all)(_.failedTasks))
  }

  def json: String = Json.obj(Seq(
    "pass" -> pass.toString, "traced" -> traced.toString,
    "wall_s" -> Json.num(wallS), "time_s" -> Json.num(timeS), "cpu_s" -> Json.num(cpuS),
    "disk_bytes" -> diskBytes.toString,
    "queries" -> Json.arr(queries.map(_.json).toSeq)) ++
    (if (traced) Seq("layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }))
     else Nil))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

object Spans {
  /** Writes one JSON object per span, with its self time: the span's
    * duration minus the part of it that its child spans cover. */
  def write(path: Path, spans: Seq[Runner.Span]): Unit = {
    val children = spans.groupBy(_.parent)
    def covered(s: Runner.Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      total
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "pass" -> s.pass.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ns" -> (s.endNs - s.startNs - covered(s)).toString))
    }.mkString("", "\n", "\n"))
  }
}
