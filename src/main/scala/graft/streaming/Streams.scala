package graft.streaming

import graft.{Exact, QueryModule, StagingDirs, Tables}
import graft.GraftSession.{inputParts, rebind, withConf}
import graft.sources.VersionedCatalog
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface — SURVEY.md §2.9 (all [S]; the reference's
  * page loop is the batch-shaped analog of a micro-batch stream).
  *
  * Each query here runs a REAL streaming pipeline over the events parquet
  * (file stream source → transforms → sink) bounded with
  * `Trigger.AvailableNow`, then hands the materialized result to the driver
  * contract — so the streaming runtime itself goes through the same
  * DuckDB-oracle hash gate, each oracle being the batch-equivalent SQL
  * (stream–batch parity, SURVEY.md §5.2).
  *
  * Scale notes: windowed aggregations keyed by (window, type) or user_id
  * partition the state store by key — 1000 executors hold disjoint key
  * ranges; watermarks bound state growth. `AvailableNow` is the batch
  * backfill mode of the same pipeline a production cluster would run with a
  * continuous trigger.
  */
object Streams extends QueryModule {

  /** Raw parquet schema of the events table for the schema-mandatory
    * streaming file source. `ts`'s landed type varies by testdata
    * generation (INT64 nanos vs TIMESTAMP(MICROS) — see Tables.events),
    * so it is passed in from a footer probe of the actual file; declaring
    * the wrong one would not fail, it would silently misread micros as
    * nanos and shift every event to 1970.
    */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Stage the dataset's parquet into the stream-source landing dir as
    * symlinks. The target is either a single file (driver-generated
    * testdata) or a Spark-written DIRECTORY of part files (ScaleGen
    * output) — the file stream source lists plain files, so a directory
    * must be staged as one link per part file (each file then arrives as
    * its own backfill unit). Targets are made ABSOLUTE (a link to a
    * relative path resolves against the staging dir and dangles), and a
    * dangling link from a prior run is healed by delete-then-link —
    * `Files.exists` follows links, so a broken one reads as absent while
    * still blocking `createSymbolicLink`.
    */
  private def stageLinks(stage: java.io.File, target: String): Unit = {
    import scala.jdk.CollectionConverters._
    val t = new java.io.File(target).toPath.toAbsolutePath
    def link(at: java.nio.file.Path, to: java.nio.file.Path): Unit =
      if (!java.nio.file.Files.exists(at)) {
        java.nio.file.Files.deleteIfExists(at)
        java.nio.file.Files.createSymbolicLink(at, to)
      }
    if (java.nio.file.Files.isDirectory(t)) {
      val ls = java.nio.file.Files.list(t)
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .foreach(p => link(stage.toPath.resolve(p.getFileName.toString), p))
      finally ls.close()
    } else link(stage.toPath.resolve(t.getFileName.toString), t)
  }

  /** Streaming scan of the events table: one file = one backfill batch;
    * a production deployment points the same code at an arriving directory.
    */
  private[streaming] def streamEvents(s: SparkSession, d: String): DataFrame = {
    // the file stream source wants a DIRECTORY of arriving files — stage a
    // symlink to the single test parquet under tmp (a real deployment
    // points this at the landing directory)
    val stage = new java.io.File(StagingDirs.dir(s, "stream", d))
    stage.mkdirs()
    stageLinks(stage, s"$d/events.parquet")
    // probe the landed ts type from the batch footer, then apply the same
    // normalization as Tables.events (both generations → session-zone ts)
    val tsType = Tables(s, d, "events").schema("ts").dataType
    val raw = s.readStream.schema(rawSchema(tsType)).parquet(stage.getAbsolutePath)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** State-store footprint (max `numRowsTotal` summed across state
    * operators over the run's progress events) of the most recent
    * completed run of each memory-sink stream, keyed by sink name.
    * Recorded so the scale sweep can MEASURE that state grows with
    * distinct keys, not input volume (r8 verdict #5): q90/q148's
    * window-agg state is |windows × types| — constant under 10×
    * same-time-range input; q227's dedup-gate state is one row per
    * distinct fingerprint — constant under 10× replicated text; q183's
    * dedup-by-id state tracks distinct event ids.
    */
  val lastStateRows: scala.collection.concurrent.TrieMap[String, Long] =
    scala.collection.concurrent.TrieMap.empty

  /** Run `body` (which starts and awaits a bounded stream over `d`'s
    * events) with shuffle partitions sized to the events input
    * ([[graft.GraftSession.inputParts]], floor 1; guide §2.2). A streaming
    * query pins `spark.sql.shuffle.partitions` into its checkpoint at
    * start, and every micro-batch then pays fixed per-partition overhead
    * (state-store provider init, commit files, task launch) for ALL of
    * them — which is why the r14 driver measured q90/q94 ~1.5× SLOWER on
    * 32 cores than 8 at sf0.1: 32 state partitions over a 2 MB backfill
    * is pure overhead. `body` gets the scope's child session: the stream
    * it starts must be built from it to see the reduced count.
    */
  private def withStreamParts[T](s: SparkSession, d: String)(body: SparkSession => T): T =
    withConf(s, "spark.sql.shuffle.partitions" ->
      inputParts(s, s"$d/events.parquet", 1).toString)(body)

  /** Run a bounded stream into a memory sink and return the result.
    * `d` is the dataset dir the stream's source was staged from — the
    * bounded run executes under [[withStreamParts]]'s input-sized
    * shuffle/state-partition count (events.parquet volume as the
    * dataset-scale proxy). The sink's view lives in the scope's child
    * session; the returned DataFrame reads the sink in `s`, so the
    * caller's batch fold plans under `s`'s conf.
    */
  private def runToMemory(s: SparkSession, d: String, df: DataFrame,
                          name: String, mode: String): DataFrame = {
    val sunk = withStreamParts(s, d) { s =>
      val q = rebind(s, df)
        .writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val perBatch = q.recentProgress
        .map(p => Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
      lastStateRows(name) = if (perBatch.isEmpty) 0L else perBatch.max
      s.table(name)
    }
    rebind(s, sunk)
  }

  /** A fresh sink directory for a foreachBatch parquet landing zone, under
    * the current `java.io.tmpdir` (`Files.createTempDirectory(prefix)`
    * keeps the one read at JVM startup) and deleted at JVM exit. */
  private def sinkDir(tag: String): String =
    StagingDirs.register(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      s"graft_${tag}_sink").toFile.getAbsolutePath)

  /** q90: tumbling event-time window — per-hour, per-type count and exact
    * sum, with a watermark (complete mode keeps every window so the bounded
    * run emits all of them).
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val agg = streamEvents(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total"))
    runToMemory(s, d, agg, "q90_sink", "complete")
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  private val q90Sql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
       |  COUNT(*) AS n, ${Exact.sqlSumMoney("value")} AS total
       |FROM events GROUP BY 1, 2
       |ORDER BY hour_start, event_type""".stripMargin

  /** q91: session windows (30-minute gap) per user — Spark merges events
    * whose gap is strictly under the timeout; the oracle replays the same
    * rule as a gaps-and-islands SQL.
    */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val agg = streamEvents(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(s, d, agg, "q91_sink", "complete")
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val q91Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** q244: session windows with a DYNAMIC gap — `session_window`'s
    * expression-gap form (the Spark feature q91's fixed "30 minutes"
    * doesn't touch): the inactivity timeout is computed PER EVENT
    * (purchases keep a session alive 2 hours, everything else 30
    * minutes — the "high-intent actions extend the session" rule every
    * product-analytics pipeline encodes). Keyed by (user, type) the gap
    * is constant within each state partition, so the oracle's
    * gaps-and-islands replay (q91's spelling with a per-type gap column)
    * is exact, including merged-window ends (MAX(ts) + gap).
    *
    * Scale: identical state story to q91 — one (user, type)-keyed
    * stateful aggregation whose state is open sessions, merged/evicted
    * by the session-window operator; the dynamic gap costs one
    * per-event expression, no extra state.
    */
  private def q244(s: SparkSession, d: String): DataFrame = {
    // the gap expression must be CalendarIntervalType (an ANSI INTERVAL
    // literal is DayTimeIntervalType and session_window rejects it) —
    // make_interval produces the calendar type.
    // ORACLE INVARIANT (r9 ADVICE): this expression must reference
    // GROUPING-KEY columns only (event_type is in the groupBy). Spark
    // merges on the PREVIOUS event's window end (prev.ts + prev.gap),
    // while the DuckDB replay tests ts - LAG(ts) >= the CURRENT row's
    // gap; the two agree exactly when the gap is constant per group.
    // A gap depending on a non-key column (e.g. `value`) would silently
    // diverge the engines — the within-key-varying case is pinned by
    // StreamsSpec("dynamic gap varies within one key") instead.
    val gap = when(col("event_type") === "purchase",
      expr("make_interval(0, 0, 0, 0, 0, 120, 0)"))
      .otherwise(expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    val agg = streamEvents(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"),
        col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(s, d, agg, "q244_sink", "complete")
      .select(col("user_id"), col("event_type"),
        col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("event_type"), col("session_start"))
  }

  private val q244Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN event_type = 'purchase' THEN INTERVAL 120 MINUTE
      |         ELSE INTERVAL 30 MINUTE END AS gap
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_type, ts, gap,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= gap THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)),
      |sess AS (
      |  SELECT user_id, event_type, ts, gap,
      |    SUM(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, event_type, MIN(ts) AS session_start,
      |  MAX(ts) + MAX(gap) AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, event_type, sid
      |ORDER BY user_id, event_type, session_start""".stripMargin

  /** q92: streaming dedup via `dropDuplicatesWithinWatermark` (the real
    * stateful dedup operator — state keyed by (user_id, event_type),
    * evicted as the watermark passes), landed through a foreachBatch
    * parquet sink (the bad-row-tolerant micro-batch pattern,
    * `main.py:117-123` analog) and folded into a distinct-pair histogram.
    * Each batch is written executor-side — nothing is materialized on the
    * driver — and the landed table is re-read as a DataFrame, so the
    * post-stream fold is distributed too. The backfill run is one batch,
    * so no key expires mid-stream and the result equals exact distinct.
    */
  private def q92(s: SparkSession, d: String): DataFrame = {
    val sink = sinkDir("q92")
    withStreamParts(s, d) { s =>
      val q = streamEvents(s, d)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sink)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType)))
    s.read.schema(schema).parquet(sink)
      .dropDuplicates("user_id", "event_type") // cross-batch dedup
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  private val q92Sql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q93: custom stateful sessionization with flatMapGroupsWithState —
    * per-user session count and event count, state = sorted event times per
    * user, emitted at end of input. The oracle is the same gaps-and-islands
    * rule in SQL (30-minute gap, new session at gap >= timeout).
    */
  /** The q93 stateful transform, exposed for multi-batch MemoryStream
    * tests: per-user session stats with state = sorted event micros.
    * Emits (user_id, n_sessions, n_events) after each batch; the LAST
    * emission per user is the answer (state accumulates across batches).
    */
  def sessionStats(events: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[List[Long]]) =>
          val all = (state.getOption.getOrElse(Nil) ++ rows.map(_._2)).sorted
          state.update(all)
          val gapUs = 30L * 60 * 1000 * 1000
          val nSessions = if (all.isEmpty) 0L
          else 1L + all.zip(all.tail).count { case (a, b) => b - a >= gapUs }
          Iterator.single((uid, nSessions, all.size.toLong))
      }(sessionStateEnc, sessionOutEnc)
  }

  /** [[sessionStats]]'s state and output encoders, built once: a fresh
    * `List[Long]` encoder numbers its `MapObjects` lambda variable anew,
    * so every call generated new source and the stream recompiled its
    * state operator on every start. */
  private val sessionStateEnc = ExpressionEncoder[List[Long]]()
  private val sessionOutEnc = ExpressionEncoder[(Long, Long, Long)]()

  private def q93(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sink = sinkDir("q93")
    withStreamParts(s, d) { s =>
      val sessions = sessionStats(
        streamEvents(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .as[(Long, Long)])
      val q = sessions.toDF("user_id", "n_sessions", "n_events")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // executor-side parquet append, batch id stamped per row — the
          // driver never materializes a batch
          batch.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(sink)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("n_sessions", LongType), StructField("n_events", LongType),
      StructField("batch_id", LongType)))
    val df = s.read.schema(schema).parquet(sink)
    // keep the final emission per user: state accumulates across batches, so
    // the row from the highest batch_id is the answer. n_sessions itself is
    // NOT monotonic (a later event can merge two sessions), so max over the
    // stat columns would be wrong in multi-batch runs — order by batch_id.
    df.groupBy(col("user_id"))
      .agg(max(struct(col("batch_id"), col("n_sessions"), col("n_events"))).as("last"))
      .select(col("user_id"),
        col("last.n_sessions").as("n_sessions"),
        col("last.n_events").as("n_events"))
      .orderBy(col("user_id"))
  }

  private val q93Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |marked AS (
      |  SELECT user_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
      |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM marked GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q94: sliding event-time windows — 2-hour windows sliding every 30
    * minutes, so each event lands in 4 overlapping windows. The oracle
    * replays the window assignment with an explicit 4-way expansion.
    */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val agg = streamEvents(s, d)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, d, agg, "q94_sink", "complete")
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))
  }

  private val q94Sql =
    """SELECT win_start, event_type, COUNT(*) AS n FROM (
      |  SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
      |           - unnest(range(0, 4)) * INTERVAL 30 MINUTE AS win_start,
      |         event_type
      |  FROM events
      |) GROUP BY win_start, event_type
      |ORDER BY win_start, event_type""".stripMargin

  /** Shared legs of the stream-stream join matrix (q98 inner / q143 left
    * / q194 full / q202 right): signups joined to same-user purchases
    * within 2 hours, both sides watermarked at 1 hour so the join state
    * is bounded. Exposed so StreamsSpec can drive the SAME body through a
    * rate-limited multi-file source (`maxFilesPerTrigger = 1`) and pin
    * that every join type's result is invariant to micro-batch slicing —
    * the guarantee a production redeploy with a different trigger cadence
    * leans on. Equi-key user_id partitions the state; the time-range
    * condition bounds retention per key.
    */
  private[streaming] def signupPurchaseJoin(ev: DataFrame,
                                            joinType: String): DataFrame = {
    val signup = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    signup.join(
      purchase,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("signup_ts") &&
        col("p_ts") <= col("signup_ts") + expr("INTERVAL 2 HOURS"),
      joinType)
  }

  /** q98: stream-stream inner join — the streaming analog of batch q15. */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val joined = signupPurchaseJoin(streamEvents(s, d), "inner")
    val out = runToMemory(s, d,
      joined.select(col("user_id"), col("signup_ts"), col("p_ts"), col("value")),
      "q98_sink", "append")
    out.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("user_id"))
  }

  private val q98Sql =
    s"""SELECT s.user_id, COUNT(*) AS n_pairs,
       |  ${Exact.sqlSumMoney("p.value")} AS total_value
       |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'signup') s
       |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events WHERE event_type = 'purchase') p
       |  ON s.user_id = p.user_id
       | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
       |GROUP BY s.user_id
       |ORDER BY s.user_id""".stripMargin

  /** q378: stream-stream LEFT SEMI join — the last supported cell of the
    * stream-join matrix (q98 inner, q143/q202 one-sided outer, q194 full
    * outer): "signups that converted within 2 hours", emitted AS
    * EXISTENCE — one row per qualifying signup no matter how many
    * purchases matched, and the purchase columns never leave the join.
    * That asymmetry is the point at scale: the right side is pure
    * probe-state (rows buffered only until the watermark proves no left
    * row can still match), nothing from it is retained in the output, so
    * the sink sees |qualifying signups| rows instead of |pairs| — for a
    * funnel with 50 purchases per signup, a 50× smaller emission with the
    * same downstream semantics as `WHERE EXISTS`. Left ANTI is the one
    * matrix cell Structured Streaming does not support (a non-match is
    * only provable at watermark expiry, and Spark reserves that path for
    * outer-join NULL emission) — the batch q13/q197 shapes cover it.
    *
    * The rollup counts qualifying signups per user; the DuckDB oracle is
    * the literal `WHERE EXISTS` replay. Multi-batch invariance rides the
    * StreamsSpec slicing test alongside the other matrix cells.
    */
  private def q378(s: SparkSession, d: String): DataFrame = {
    val joined = signupPurchaseJoin(streamEvents(s, d), "left_semi")
    val out = runToMemory(s, d,
      joined.select(col("user_id"), col("signup_ts")),
      "q378_sink", "append")
    out.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_qualified"))
      .orderBy(col("user_id"))
  }

  private val q378Sql =
    """SELECT s.user_id, CAST(COUNT(*) AS BIGINT) AS n_qualified
      |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |      WHERE event_type = 'signup') s
      |WHERE EXISTS (
      |  SELECT 1 FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      |                 FROM events WHERE event_type = 'purchase') p
      |  WHERE p.user_id = s.user_id
      |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR)
      |GROUP BY s.user_id
      |ORDER BY s.user_id""".stripMargin

  /** q99: stream-static enrichment join — the arriving event stream joined
    * to the static customer dimension (broadcast: the dim is loaded once
    * per micro-batch, no stream state), then a running per-segment count
    * and exact revenue sum. The canonical "enrich the firehose with a dim
    * table" deployment; at 100 TB/day the dim stays broadcast and the only
    * stateful op is the bounded per-segment aggregate.
    */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = streamEvents(s, d)
      .join(broadcast(cust), col("user_id") + 1 === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total_value"))
    runToMemory(s, d, enriched, "q99_sink", "complete")
      .orderBy(col("segment"))
  }

  private val q99Sql =
    s"""SELECT c_mktsegment AS segment, COUNT(*) AS n,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events JOIN customer ON user_id + 1 = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q286: temporal (SCD2) enrichment of a STREAM — each event joins the
    * dimension version valid AT ITS EVENT TIME, not the current one: the
    * static side carries `[valid_from, valid_to)` interval rows (four
    * deterministic 8-day tier versions per customer, generated in-plan so
    * both engines replay them bit-identically), and the stream-static
    * inner join's predicate is key equality PLUS interval containment.
    * Spark broadcasts the dim and evaluates the range residual per row;
    * intervals partition the timeline, so the match is exactly 1:1.
    *
    * Scale: unlike the stream-stream join (q98) this join is STATELESS —
    * no watermark bookkeeping, no buffered rows; the dim broadcast is
    * O(|dim|) per micro-batch and the only state is the final tier
    * rollup's (pinned ≤ #tiers in StreamsSpec). This is the as-of lookup
    * every event-enrichment pipeline runs (fx rates, price books,
    * segments): dim changes land as NEW interval rows, and late events
    * still enrich against the version that was true when they happened.
    */
  private def q286(s: SparkSession, d: String): DataFrame = {
    val base = lit("2024-01-01").cast(DateType)
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .select(col("c_custkey"),
        date_add(base, (col("k") * 8).cast(IntegerType)).as("valid_from"),
        when(col("k") === 3, lit("9999-12-31").cast(DateType))
          .otherwise(date_add(base, (col("k") * 8 + 8).cast(IntegerType)))
          .as("valid_to"),
        pmod(col("c_custkey") + col("k"), lit(4)).cast(LongType).as("tier"))
    val enriched = streamEvents(s, d)
      .join(broadcast(dim),
        col("user_id") + 1 === col("c_custkey") &&
          col("ts") >= col("valid_from") && col("ts") < col("valid_to"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumMoney(col("value")).as("total_value"))
    runToMemory(s, d, enriched, "q286_sink", "complete")
      .orderBy(col("tier"))
  }

  private val q286Sql =
    s"""WITH dim AS (
       |  SELECT c_custkey, k,
       |    DATE '2024-01-01' + CAST(k * 8 AS INTEGER) AS valid_from,
       |    CASE WHEN k = 3 THEN DATE '9999-12-31'
       |         ELSE DATE '2024-01-01' + CAST(k * 8 + 8 AS INTEGER) END AS valid_to,
       |    (c_custkey + k) % 4 AS tier
       |  FROM customer CROSS JOIN range(4) AS t(k))
       |SELECT tier, COUNT(*) AS n_events,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events JOIN dim ON user_id + 1 = c_custkey
       |  AND CAST(ts AS TIMESTAMP) >= valid_from
       |  AND CAST(ts AS TIMESTAMP) < valid_to
       |GROUP BY 1 ORDER BY tier""".stripMargin

  // --------------------------------------------------------------- q325

  /** The SCD2 dimension as DATA both q325's stream and its oracle replay:
    * four bounded 8-day tier versions per customer from 2024-01-01
    * (q286's generator with the open-ended tail CLOSED — a stream-stream
    * join's state cleanup needs every interval bounded so the watermark
    * range condition can evict it).
    */
  private[streaming] def scd2Dim(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .select(col("c_custkey"),
        date_add(lit("2024-01-01").cast(DateType), (col("k") * 8).cast(IntegerType))
          .cast(TimestampType).as("valid_from"),
        pmod(col("c_custkey") + col("k"), lit(4)).cast(LongType).as("tier"))

  private[streaming] val scd2DimSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("valid_from", TimestampType),
    StructField("tier", LongType)))

  /** Land the dim as a 4-file parquet arrival dir (one file per version
    * wave under `maxFilesPerTrigger=1` in the spec), once per
    * (session, dataset).
    */
  private[streaming] def stageScd2Dim(s: SparkSession, d: String): String = {
    val dir = StagingDirs.dir(s, "scd2dim", d)
    StagingDirs.once(dir) {
      scd2Dim(s, d).repartition(4, col("valid_from"))
        .write.mode("overwrite").parquet(s"$dir/dim")
    }
    s"$dir/dim"
  }

  /** q325's core on ANY dim stream (the multi-batch spec drives it with
    * `maxFilesPerTrigger=1` so dim versions ARRIVE across micro-batches
    * and events buffered in join state enrich against versions that land
    * later): purchase events × streaming SCD2 dim, both sides
    * watermarked, the as-of condition spelled as the event-time RANGE
    * `valid_from ≤ ts < valid_from + 8 days` so Spark derives state
    * eviction bounds for BOTH buffers.
    */
  private[streaming] def scd2StreamEnrich(s: SparkSession, d: String,
                                          events: DataFrame,
                                          dim: DataFrame, sink: String): DataFrame = {
    val joined = events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .join(dim.withWatermark("valid_from", "1 hour"),
        col("user_id") + 1 === col("c_custkey") &&
          col("ts") >= col("valid_from") &&
          col("ts") < col("valid_from") + expr("INTERVAL 8 DAYS"))
      .select(col("tier"), col("value"))
    runToMemory(s, d, joined, sink, "append")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("tier"))
  }

  /** q325: STREAM-STREAM SCD2 enrichment — q286's temporal join with the
    * dimension itself ARRIVING as a stream (the last temporal-join cell:
    * q99 static dim, q286 SCD2 static dim, q98 stream-stream equi+range
    * on one key, this one stream-stream AS-OF): dim version rows land as
    * files, events join the version valid at their event time via the
    * watermarked interval condition, and Spark's join state buffers each
    * side until the other's watermark passes — so an event arriving
    * BEFORE its dim version (or a version before its events) still
    * enriches exactly once, the out-of-order-arrival guarantee a static
    * dim cannot give. The rollup hash-matches the frozen-dim batch
    * oracle; StreamsSpec replays the dim one file per micro-batch and
    * pins batch-order independence.
    *
    * Scale: state is bounded on BOTH sides by the watermark range
    * (every interval closed — the generator's open tail is gone for
    * exactly this reason); each buffer holds one watermark-window of
    * rows keyed by the join key, evicted as event time advances. This
    * is the CDC-fed enrichment topology (dim changes stream from the
    * OLTP log) every real-time feature pipeline runs.
    */
  private def q325(s: SparkSession, d: String): DataFrame = {
    val dim = s.readStream.schema(scd2DimSchema).parquet(stageScd2Dim(s, d))
    scd2StreamEnrich(s, d, streamEvents(s, d), dim, "q325_sink")
  }

  private val q325Sql =
    s"""WITH dim AS (
       |  SELECT c_custkey,
       |    CAST(DATE '2024-01-01' + CAST(k * 8 AS INTEGER) AS TIMESTAMP) AS valid_from,
       |    (c_custkey + k) % 4 AS tier
       |  FROM customer CROSS JOIN range(4) AS t(k))
       |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events JOIN dim ON user_id + 1 = c_custkey
       |  AND CAST(ts AS TIMESTAMP) >= valid_from
       |  AND CAST(ts AS TIMESTAMP) < valid_from + INTERVAL 8 DAY
       |WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY tier""".stripMargin

  /** q106: update-mode aggregation into an upsert sink — the third output
    * mode (q90/q91 run complete, q92/q94/q98 append). Per-(type, hour)
    * counts stream in update mode, so each micro-batch emits ONLY the keys
    * that changed; the foreachBatch sink appends them (stamped with the
    * batch id) to a parquet CHANGELOG, and the upserted view is replayed
    * distributed as "last change per key wins" — the KV-store consumer
    * pattern with the store itself kept out of the driver. The final
    * upserted view must equal the batch aggregate. At scale the sink write
    * per batch is O(changed keys), not O(all keys) — the reason update
    * mode exists.
    */
  /** q106's core, callable on ANY streaming events frame (the multi-batch
    * spec drives it with a maxFilesPerTrigger=1 source): update-mode
    * aggregation, per-batch changelog append, distributed
    * last-write-wins replay.
    *
    * NO watermark: update mode doesn't require one, and with one a
    * multi-file source (or maxFilesPerTrigger) could drop rows arriving
    * behind the advanced watermark, silently diverging from the batch
    * oracle. Unbounded keyed state is fine here — the key space is
    * (event_type, hour), bounded by the data's time span.
    */
  private[streaming] def upsertAggregate(s: SparkSession, events: DataFrame,
                                         sink: String): DataFrame = {
    val agg = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total"))
    val q = agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(sink)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("hour_start", TimestampType),
      StructField("n", LongType), StructField("total", DoubleType),
      StructField("batch_id", LongType)))
    // upsert replay: a key appears at most once per batch (it's an agg
    // output), so the row with the highest batch_id is the current value
    s.read.schema(schema).parquet(sink)
      .groupBy(col("event_type"), col("hour_start"))
      .agg(max(struct(col("batch_id"), col("n"), col("total"))).as("last"))
      .select(col("event_type"), col("hour_start"),
        col("last.n").as("n"), col("last.total").as("total"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  private def q106(s: SparkSession, d: String): DataFrame =
    upsertAggregate(s, streamEvents(s, d), sinkDir("q106"))

  private val q106Sql =
    s"""SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       |  COUNT(*) AS n, ${Exact.sqlSumMoney("value")} AS total
       |FROM events GROUP BY 1, 2
       |ORDER BY event_type, hour_start""".stripMargin

  /** q122's stateful processor: exact per-user purchase tally (count +
    * money cents, both BIGINT so state merging is associative) in one
    * `ValueState` — the transformWithState (Spark 4 arbitrary-state API)
    * counterpart of q93's flatMapGroupsWithState sessionizer. Emits the
    * running tally for every key touched by a batch (update-mode
    * semantics; the consumer keeps the last emission per key).
    */
  private class PurchaseTally extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("tally",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { r => n += 1; cents += r._2 }
      st.update((n, cents))
      Iterator.single((key, n, cents))
    }
  }

  /** Timer-driven session assembly — the full transformWithState surface
    * (ListState buffer + event-time timers): events append to a per-user
    * ListState; each batch re-arms one timer at (latest event + gap); when
    * the watermark passes it the timer fires, `handleExpiredTimer` splits
    * the buffer into gap-delimited sessions, emits them all (every one is
    * closed — the watermark is ≥ last event + gap) and clears state.
    *
    * This is the push-based dual of q93's pull-based sessionizer: q93
    * re-emits corrected totals every batch; this emits each session
    * exactly once, when it provably cannot grow — the shape that lets
    * 100 TB-state pipelines retire state instead of carrying it forever.
    * Output: (user_id, session_start_ms, n_events). Pinned by the
    * StreamsSpec multi-batch watermark test (emission timing is a runtime
    * property no batch oracle can express).
    */
  private[streaming] class SessionAssembler(gapMs: Long)
      extends org.apache.spark.sql.streaming
        .StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getListState[Long]("events",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Long)] = {
      var mx = Long.MinValue
      rows.foreach { r => buf.appendValue(r._2); if (r._2 > mx) mx = r._2 }
      // one live timer per key: re-arm at the latest event + gap
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (mx != Long.MinValue) getHandle.registerTimer(mx + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
      val all = buf.get().toArray.sorted
      buf.clear()
      if (all.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var start = all(0); var prev = all(0); var n = 1L
        all.iterator.drop(1).foreach { t =>
          if (t - prev >= gapMs) { out += ((key, start, n)); start = t; n = 0L }
          n += 1; prev = t
        }
        out += ((key, start, n))
        out.iterator
      }
    }
  }

  /** The session-assembly pipeline on any `(user_id, ts_ms)` stream, with
    * a zero-delay watermark on the event time (timers fire as soon as the
    * watermark passes session-end + gap). Caller must have the RocksDB
    * state-store provider set when the query starts.
    */
  private[streaming] def assembleSessions(
      ds: org.apache.spark.sql.Dataset[(Long, Long)], gapMs: Long):
      org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts_ms")).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionAssembler(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The transformWithState pipeline on any `(user_id, cents)` stream —
    * separated from q122's source/sink plumbing so the multi-batch spec
    * can drive it through a MemoryStream (caller must have the RocksDB
    * state-store provider set when the query starts).
    */
  private[streaming] def purchaseTally(
      ds: org.apache.spark.sql.Dataset[(Long, Long)]):
      org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new PurchaseTally,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** The state-store provider conf q122, q132 and q393 scope on. */
  private val rocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** q122: transformWithState — the third rung of the stateful-streaming
    * ladder (q92 dropDuplicates < q93 flatMapGroupsWithState < q122
    * arbitrary typed state with an explicit store handle): per-user
    * purchase count + exact cents total for repeat buyers (≥ 3). The API
    * requires the RocksDB state-store provider (state lives off-heap and
    * spills to disk — the 100 TB-state story), set for this query's
    * scope only. Money rides as integer cents, so per-key accumulation
    * order cannot change the result and the batch oracle matches exactly.
    */
  private def q122(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConf(s, rocksDbProvider) { s =>
      val purchases = streamEvents(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long)]
      val tallied = purchaseTally(purchases).toDF("user_id", "n_purchases", "cents")
      val out = runToMemory(s, d, tallied, "q122_sink", "update")
      // n is monotone per key: the max-(n, cents) struct is the final tally
      out.groupBy(col("user_id"))
        .agg(max(struct(col("n_purchases"), col("cents"))).as("last"))
        .select(col("user_id"), col("last.n_purchases").as("n_purchases"),
          col("last.cents").as("cents"))
        .filter(col("n_purchases") >= 3)
        .orderBy(col("user_id"))
    }
  }

  private val q122Sql =
    """SELECT user_id, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY 1""".stripMargin

  /** q132's stateful processor: per-user event-type counters in one
    * `MapState[String, Long]` — the keyed sub-map state primitive
    * (ValueState q122 < ListState SessionAssembler < MapState here): each
    * event type's counter updates in place without rewriting the rest of
    * the user's state, which is the point of MapState over a ValueState
    * holding a map. Emits the full tally for every key a batch touches.
    */
  private class TypeTally extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("tally",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, String, Long)] = {
      rows.foreach { r =>
        val t = r._2
        st.updateValue(t, (if (st.containsKey(t)) st.getValue(t) else 0L) + 1L)
      }
      st.iterator().map { case (t, n) => (key, t, n) }
    }
  }

  private[streaming] def typeTally(
      ds: org.apache.spark.sql.Dataset[(Long, String)]):
      org.apache.spark.sql.Dataset[(Long, String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new TypeTally,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** q132: MapState — per-user counts per event type accumulated across
    * micro-batches, pivoted to fixed columns at the end. Update-mode
    * emissions; the consumer keeps each (user, type)'s last (= max, counts
    * are monotone) tally. Oracle is the equivalent batch pivot.
    */
  private def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConf(s, rocksDbProvider) { s =>
      val ev = streamEvents(s, d)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
      val tallied = typeTally(ev).toDF("user_id", "event_type", "n")
      val out = runToMemory(s, d, tallied, "q132_sink", "update")
      out.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"))
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup"))
        .agg(first(col("n")))
        .na.fill(0L, Seq("click", "view", "purchase", "signup"))
        .select(col("user_id"), col("click").as("n_click"),
          col("view").as("n_view"), col("purchase").as("n_purchase"),
          col("signup").as("n_signup"))
        .orderBy(col("user_id"))
    }
  }

  private val q132Sql =
    """SELECT user_id,
      |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
      |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
      |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
      |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q143: stream-stream LEFT OUTER join — q98's signup⋈purchase pairing
    * plus the unmatched signups. Matches emit as they arrive; an unmatched
    * signup can only emit once the global watermark (the MIN across both
    * sides' watermark nodes) passes `signup_ts + 2h`, the point where no
    * future purchase can still match — the bounded run's final no-data
    * micro-batch fires those evictions. Signups inside the trailing
    * watermark+window horizon stay IN STATE at stream end and are never
    * emitted as unmatched; the oracle applies the same gate, which is the
    * honest spelling of outer-join semantics on an unbounded stream: an
    * absence is only knowable watermark-late. State is user_id-partitioned
    * and the two-sided time bound caps per-key retention, exactly as in
    * the inner variant.
    */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val joined = signupPurchaseJoin(streamEvents(s, d), "left_outer")
    val out = runToMemory(s, d,
      joined.select(col("user_id"), col("signup_ts"), col("p_ts"), col("value")),
      "q143_sink", "append")
    out.groupBy(col("user_id"))
      .agg(count(col("value")).as("n_matched"),
        expr("count_if(p_ts IS NULL)").as("n_unmatched"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("user_id"))
  }

  private val q143Sql =
    s"""WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
       |           WHERE event_type = 'signup'),
       |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
       |      WHERE event_type = 'purchase'),
       |wm AS (SELECT LEAST((SELECT MAX(ts) FROM s), (SELECT MAX(ts) FROM p))
       |         - INTERVAL 1 HOUR AS w),
       |m AS (SELECT s.user_id, s.ts AS signup_ts, p.ts AS p_ts, p.value
       |      FROM s JOIN p ON s.user_id = p.user_id
       |       AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR),
       |u AS (SELECT s.user_id, s.ts AS signup_ts,
       |        CAST(NULL AS TIMESTAMP) AS p_ts, CAST(NULL AS DOUBLE) AS value
       |      FROM s, wm
       |      WHERE s.ts + INTERVAL 2 HOUR < wm.w
       |        AND NOT EXISTS (SELECT 1 FROM p
       |          WHERE p.user_id = s.user_id
       |            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR)),
       |allr AS (SELECT * FROM m UNION ALL SELECT * FROM u)
       |SELECT user_id, COUNT(value) AS n_matched,
       |  COUNT(CASE WHEN p_ts IS NULL THEN 1 END) AS n_unmatched,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin

  /** q194: stream-stream FULL OUTER join — completes the join matrix next
    * to q98 (inner) and q143 (left-outer), stressing BOTH sides'
    * state-eviction paths at once. Matches emit as they arrive. An
    * unmatched signup emits once the min-watermark passes
    * `signup_ts + 2h` (no future purchase can match — q143's gate); an
    * unmatched purchase emits once the watermark passes `p_ts` itself,
    * because a future signup would need `signup_ts <= p_ts` and the
    * watermark bounds future event times from below. Rows inside the
    * trailing horizon stay in state at stream end; the oracle applies
    * both gates, which is the honest spelling of full-outer semantics on
    * an unbounded stream — each side's absences are only knowable
    * watermark-late, at different delays.
    *
    * Scale: state is user_id-partitioned on both sides and the two-sided
    * time bound caps per-key retention, as in the inner variant.
    */
  private def q194(s: SparkSession, d: String): DataFrame = {
    val joined = signupPurchaseJoin(streamEvents(s, d), "full_outer")
    val out = runToMemory(s, d,
      joined.select(coalesce(col("user_id"), col("p_user")).as("uid"),
        col("signup_ts"), col("p_ts"), col("value")),
      "q194_sink", "append")
    out.groupBy(col("uid"))
      .agg(
        expr("count_if(signup_ts IS NOT NULL AND p_ts IS NOT NULL)").as("n_matched"),
        expr("count_if(p_ts IS NULL)").as("n_unmatched_signups"),
        expr("count_if(signup_ts IS NULL)").as("n_unmatched_purchases"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("uid"))
  }

  private val q194Sql =
    s"""WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
       |           WHERE event_type = 'signup'),
       |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
       |      WHERE event_type = 'purchase'),
       |wm AS (SELECT LEAST((SELECT MAX(ts) FROM s), (SELECT MAX(ts) FROM p))
       |         - INTERVAL 1 HOUR AS w),
       |m AS (SELECT s.user_id, s.ts AS signup_ts, p.ts AS p_ts, p.value
       |      FROM s JOIN p ON s.user_id = p.user_id
       |       AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR),
       |us AS (SELECT s.user_id, s.ts AS signup_ts,
       |         CAST(NULL AS TIMESTAMP) AS p_ts, CAST(NULL AS DOUBLE) AS value
       |       FROM s, wm
       |       WHERE s.ts + INTERVAL 2 HOUR < wm.w
       |         AND NOT EXISTS (SELECT 1 FROM p
       |           WHERE p.user_id = s.user_id
       |             AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR)),
       |up AS (SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS signup_ts,
       |         p.ts AS p_ts, p.value
       |       FROM p, wm
       |       WHERE p.ts < wm.w
       |         AND NOT EXISTS (SELECT 1 FROM s
       |           WHERE s.user_id = p.user_id
       |             AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR)),
       |allr AS (SELECT * FROM m UNION ALL SELECT * FROM us
       |         UNION ALL SELECT * FROM up)
       |SELECT user_id AS uid,
       |  COUNT(CASE WHEN signup_ts IS NOT NULL AND p_ts IS NOT NULL THEN 1 END)
       |    AS n_matched,
       |  COUNT(CASE WHEN p_ts IS NULL THEN 1 END) AS n_unmatched_signups,
       |  COUNT(CASE WHEN signup_ts IS NULL THEN 1 END) AS n_unmatched_purchases,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin

  /** q202: stream-stream RIGHT OUTER join — the last cell of the join
    * matrix next to q98 (inner), q143 (left) and q194 (full): every
    * purchase survives, attributed to its in-window signup when one
    * exists. The eviction asymmetry is the point: an unmatched purchase
    * emits once the min-watermark passes `p_ts` ITSELF (a future signup
    * would need `signup_ts ≤ p_ts`, and the watermark bounds future
    * event times from below) — a shorter delay than the left side's
    * `signup_ts + 2h` gate, which is why the attribution use case
    * (purchases needing their signup) wants RIGHT rather than full
    * outer. Purchases inside the trailing horizon stay in state at
    * stream end; the oracle applies the same gate.
    *
    * Scale: state is user_id-partitioned on both sides; the signup side
    * holds rows only `2h + delay` past the watermark, the purchase side
    * only `delay`, so per-key retention is bounded as in the inner
    * variant.
    */
  private def q202(s: SparkSession, d: String): DataFrame = {
    val joined = signupPurchaseJoin(streamEvents(s, d), "right_outer")
    val out = runToMemory(s, d,
      joined.select(col("p_user"), col("signup_ts"), col("p_ts"), col("value")),
      "q202_sink", "append")
    out.groupBy(col("p_user"))
      .agg(
        expr("count_if(signup_ts IS NOT NULL)").as("n_attributed"),
        expr("count_if(signup_ts IS NULL)").as("n_unattributed"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("p_user"))
  }

  private val q202Sql =
    s"""WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
       |           WHERE event_type = 'signup'),
       |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
       |      WHERE event_type = 'purchase'),
       |wm AS (SELECT LEAST((SELECT MAX(ts) FROM s), (SELECT MAX(ts) FROM p))
       |         - INTERVAL 1 HOUR AS w),
       |m AS (SELECT p.user_id, s.ts AS signup_ts, p.ts AS p_ts, p.value
       |      FROM s JOIN p ON s.user_id = p.user_id
       |       AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR),
       |up AS (SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS signup_ts,
       |         p.ts AS p_ts, p.value
       |       FROM p, wm
       |       WHERE p.ts < wm.w
       |         AND NOT EXISTS (SELECT 1 FROM s
       |           WHERE s.user_id = p.user_id
       |             AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR)),
       |allr AS (SELECT * FROM m UNION ALL SELECT * FROM up)
       |SELECT user_id AS p_user,
       |  COUNT(CASE WHEN signup_ts IS NOT NULL THEN 1 END) AS n_attributed,
       |  COUNT(CASE WHEN signup_ts IS NULL THEN 1 END) AS n_unattributed,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin

  /** q148: CHAINED event-time window aggregations in one streaming query —
    * hourly per-type count/sum rolled up into daily totals via
    * `window_time()` (the multiple-stateful-operators pipeline Spark
    * supports since 3.4; before that this took two queries with an
    * intermediate sink). Both stages are watermark-finalized append-mode
    * windows: an hour emits once the watermark passes its end, and since a
    * day's last hour ends exactly at day end, every hour of a day is final
    * by the time the day can emit — so the rollup is complete-by-
    * construction. The trailing day (inside the watermark horizon at
    * stream end) stays in state; the oracle applies the same gate.
    *
    * Scale: the second stage aggregates HOURLY rows, not events — its
    * state is O(types × days) and the daily shuffle carries 24 rows per
    * (type, day), the pre-aggregation cascade that makes multi-resolution
    * rollups cheap at any volume.
    */
  private def q148(s: SparkSession, d: String): DataFrame = {
    val hourly = streamEvents(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Exact.money(col("value"))).as("v"))
    val daily = hourly
      .groupBy(window(window_time(col("w")), "1 day").as("dw"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_hours"),
        sum(col("v")).cast(DoubleType).as("total_value"))
    runToMemory(s, d, daily, "q148_sink", "append")
      .select(col("dw.start").cast(DateType).as("day_start"), col("event_type"),
        col("n_events"), col("n_hours"), col("total_value"))
      .orderBy(col("day_start"), col("event_type"))
  }

  private val q148Sql =
    s"""WITH h AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hs, event_type,
       |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS v
       |  FROM events GROUP BY 1, 2),
       |wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
       |       FROM events),
       |d AS (
       |  SELECT date_trunc('day', hs) AS day_start, event_type,
       |    CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_hours,
       |    CAST(SUM(v) AS DOUBLE) AS total_value
       |  FROM h GROUP BY 1, 2)
       |SELECT CAST(day_start AS DATE) AS day_start, event_type,
       |  n_events, n_hours, total_value
       |FROM d, wm WHERE day_start + INTERVAL 1 DAY <= wm.w
       |ORDER BY 1, 2""".stripMargin

  /** q183: chained stateful DEDUP → windowed aggregation in one streaming
    * query — the at-least-once-source reality: upstream retries duplicate
    * events, so the pipeline dedups by event_id within the watermark and
    * THEN aggregates, both stateful, in one query (the second
    * multiple-stateful-operators combination next to q148's agg→agg).
    * Synthetic duplicates (a second copy of every 10th event) are unioned
    * in so the dedup provably has work to do; the oracle aggregates the
    * distinct original stream with the q148-style watermark gate on
    * window emission.
    */
  private def q183(s: SparkSession, d: String): DataFrame = {
    val ev = streamEvents(s, d)
    val withDupes = ev.unionByName(ev.filter(col("event_id") % 10 === 0))
    val agg = withDupes
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total"))
    runToMemory(s, d, agg, "q183_sink", "append")
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("win_start"), col("event_type"))
  }

  private val q183Sql =
    s"""WITH wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
       |            FROM events),
       |agg AS (
       |  SELECT time_bucket(INTERVAL 6 HOURS, CAST(ts AS TIMESTAMP))
       |      AS win_start,
       |    event_type, COUNT(*) AS n, ${Exact.sqlSumMoney("value")} AS total
       |  FROM events GROUP BY 1, 2)
       |SELECT win_start, event_type, n, total
       |FROM agg, wm WHERE win_start + INTERVAL 6 HOURS <= wm.w
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q227

  /** Streaming scan of the documents table (the streamEvents staging
    * scheme: one file = one backfill batch; production points the same
    * code at an arriving directory).
    */
  private def streamDocs(s: SparkSession, d: String): DataFrame = {
    val stage = new java.io.File(StagingDirs.dir(s, "docstream", d))
    stage.mkdirs()
    stageLinks(stage, s"$d/documents.parquet")
    s.readStream
      .schema(Tables(s, d, "documents").schema)
      .parquet(stage.getAbsolutePath)
  }

  /** The continuous dedup-gate transform shared by q227 and its
    * multi-batch spec: documents keyed by passage fingerprint (md5 of the
    * 32-token prefix, the q102/q214 grain), with `flatMapGroupsWithState`
    * holding ONE Long per distinct fingerprint ever seen (the first
    * accepted doc_id). Arrival order wins across batches; within a batch
    * the lowest doc_id wins (deterministic under any input split).
    */
  /** The q102/q214/q227 passage grain: md5 of the 32-token prefix. Shared
    * by the dedup gate and the q270 state read so the state keys and the
    * batch oracle can never drift.
    */
  private[streaming] def passageFp(text: org.apache.spark.sql.Column) =
    md5(concat_ws(" ", slice(filter(split(text, " "), t => length(t) > 0), 1, 32)))

  private[streaming] def dedupGate(s: SparkSession, docs: DataFrame): Dataset[(Long, String, String)] = {
    import s.implicits._
    docs
      .select(col("doc_id").cast(LongType),
        passageFp(col("text")).as("fp"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (fp, it, state) =>
          val batch = it.map(_._1).toSeq.sorted
          val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String)]
          var first = state.getOption
          batch.foreach { id =>
            first match {
              case None =>
                first = Some(id); out += ((id, fp, "first"))
              case Some(_) =>
                out += ((id, fp, "dup"))
            }
          }
          first.foreach(state.update)
          out.iterator
      }
  }

  /** q227: continuous ingest dedup gate — the STREAMING spelling of the
    * q214/q216 snapshot gate: every arriving document classifies as
    * `first` (fingerprint never seen) or `dup` (fingerprint held in
    * state from any earlier batch or an earlier doc this batch), with the
    * seen-set carried as one Long of state per distinct fingerprint —
    * the at-least-once ingest gate a crawler feeds. On the one-file
    * backfill the arrival-order rule collapses to min-doc_id-wins, which
    * is exactly the batch oracle; the multi-batch arrival-order behavior
    * (an EARLIER batch's doc beats a LATER batch's lower id) is pinned by
    * StreamsSpec through MemoryStream, where no batch oracle can reach.
    *
    * Scale: state is fingerprint-keyed — 16 bytes of key + 8 of value per
    * DISTINCT passage, shuffled once on fp; doc text never enters state.
    * A production run ages state with a timeout or pairs it with the
    * q216 persisted snapshot for bounded retention.
    */
  private def q227(s: SparkSession, d: String): DataFrame = {
    val classes = dedupGate(s, streamDocs(s, d)).toDF("doc_id", "fp", "status")
    runToMemory(s, d, classes, "q227_sink", "append")
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  private val q227Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    md5(array_to_string(
      |      (list_filter(string_split(text, ' '), t -> length(t) > 0))[1:32],
      |      ' ')) AS fp
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
      |       THEN 'first' ELSE 'dup' END AS status
      |FROM f ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q252

  private val q252Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q252: EXACTLY-ONCE versioned streaming ingest — the streaming writer
    * for the [[graft.sources.VersionedManifest]] table family
    * (q247/q249/q250): each micro-batch lands inside `foreachBatch` as
    * its own version (epoch + 1) using the data-first/manifest-rename
    * commit protocol, and a REPLAYED epoch (a restart inside streaming's
    * at-least-once window, between sink work and offset commit) finds
    * its manifest already committed and lands nothing — idempotence from
    * the manifest alone, no sink-side transaction log needed. Readers
    * union the committed versions (the append-log read); the rollup over
    * that log hash-matches the plain batch oracle over events, which
    * fails on any lost OR doubled epoch. Checkpoint and output are keyed
    * per execution like q231, so every bench attempt measures a real
    * ingest, not a committed checkpoint's no-op resume.
    *
    * Scale: the version commit is one rename per micro-batch regardless
    * of batch size; readers list O(#versions) manifests. A production
    * table periodically folds old versions through q245's compaction +
    * q249's vacuum — this query is the arrival half of that loop.
    */
  private def q252(s: SparkSession, d: String): DataFrame = {
    val run = q252Runs.incrementAndGet()
    val dir = StagingDirs.dir(s, "vingest", s"r$run")
    val ckpt = StagingDirs.dir(s, "vingest_ckpt", s"r$run")
    val landEpoch: (DataFrame, Long) => Unit = (batch, epoch) => {
      val v = epoch + 1
      // idempotent replay: an already-committed version lands nothing
      if (!graft.sources.VersionedManifest.committedVersions(s, dir)
        .contains(v)) {
        batch.write.mode("overwrite").parquet(s"$dir/v=$v")
        graft.sources.VersionedManifest.commit(s, dir, v, s"epoch $epoch")
      }
    }
    withStreamParts(s, d) { s =>
      val q = streamEvents(s, d).writeStream
        .foreachBatch(landEpoch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val versions = graft.sources.VersionedManifest.committedVersions(s, dir)
    versions
      .map(v => graft.sources.VersionedManifest.readAt(s, dir, v))
      .reduce(_.unionByName(_))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q252Sql =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q367

  private val q367Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q367: STREAMING LWW UPSERT — CDC apply into the versioned table:
    * q252 APPENDS each epoch as a new version, THIS one MERGES it
    * (`VersionedManifest.mergeLww`, the q366 COW machinery) so the table
    * converges to one live row per key — the mutable "profile" table
    * every CDC pipeline maintains downstream of an event log. Matched
    * keys keep whichever row wins on (ts, event_id) — a TOTAL order, so
    * the upsert is COMMUTATIVE across micro-batches: replays,
    * out-of-order file→batch assignment, and restarts all converge to
    * the same table, which is why a batch oracle (the per-user argmax
    * over ALL events) can hash-check a streaming result at all.
    * Idempotence is the manifest's: each epoch stamps an `epoch=<n>`
    * marker line into the commit body and a replayed epoch finds its
    * marker in committed history and lands nothing (q252's discipline,
    * carried through a MERGE instead of an append). The estate
    * bootstraps v1 from the even-event_id half (the stale profile
    * snapshot); the stream feeds the odd half; the final rollup is
    * split-independent BY CONSTRUCTION — LWW order, not arrival order,
    * decides every row.
    *
    * Scale: per epoch, one semi-join pass finds affected dirs and only
    * those rewrite (O(affected + batch), never O(table)); the LWW fold
    * is a map-side-combinable struct max. State lives in the TABLE, not
    * the stream — no watermark, no state store, restart-safe by
    * manifest alone.
    */
  private def q367(s: SparkSession, d: String): DataFrame = {
    val M = graft.sources.VersionedManifest
    val run = q367Runs.incrementAndGet()
    val dir = StagingDirs.dir(s, "cdc", s"r$run")
    val ckpt = StagingDirs.dir(s, "cdc_ckpt", s"r$run")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def lwwFold(df: DataFrame): DataFrame = df
      .select(col("user_id"), struct(col("ts"), col("event_id"),
        col("event_type"), col("value"), col("props")).as("p"))
      .groupBy(col("user_id")).agg(max(col("p")).as("p"))
      .select(col("user_id"), col("p.ts"), col("p.event_id"),
        col("p.event_type"), col("p.value"), col("p.props"))
      .select(cols.map(col): _*)
    if (M.latestCommitted(s, dir).isEmpty) {
      lwwFold(Tables.events(s, d).filter(col("event_id") % 2 === 0))
        .write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "bootstrap profiles")
    }
    val applyCdc: (DataFrame, Long) => Unit = (batch, epoch) => {
      val marker = s"epoch=$epoch"
      val seen = M.committedVersions(s, dir).exists(v =>
        M.describe(s, dir, v).linesIterator.exists(_.trim == marker))
      if (!seen && !batch.isEmpty)
        M.mergeLww(s, dir, batch.select(cols.map(col): _*), "user_id",
          Seq("ts", "event_id"), marker)
    }
    val q = streamEvents(s, d).filter(col("event_id") % 2 === 1)
      .writeStream
      .foreachBatch(applyCdc)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    M.readLatest(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("event_id")).as("id_sum"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q367Sql =
    s"""WITH w AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY ts DESC, event_id DESC) AS rk
       |  FROM events)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM w WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q372

  private val q372Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q372: LATE-DATA DEAD-LETTER — the capture half of the watermark
    * story: Spark's own watermark DROPS late rows (q90s) and COUNTS them
    * (`numRowsDroppedByWatermark`), but a training-data estate must KEEP
    * them — late events are data, just data that missed its window (the
    * reprocessing queue every event pipeline runs). Each micro-batch
    * classifies against the high-water mark of the PRIOR batches
    * (`hwm − 1 hour`, the allowed-lateness contract): on-time rows land
    * in the main table, late rows in the dead-letter table, and NOTHING
    * is dropped — the rollup carries both sides and their exact value
    * masses, so a row misrouted in either direction hash-mismatches.
    * Replayability is the q340 discipline: batch ASSIGNMENT is DATA
    * (`event_id % 4`, four single-file arrivals under
    * `maxFilesPerTrigger=1` with strictly increasing mtimes), so the
    * oracle replays the exact same batch sequence — hwm evolution
    * included — as four CTEs.
    *
    * Scale: classification is one map-side comparison per row against a
    * broadcast scalar; the only driver state is ONE timestamp (the hwm),
    * not per-key state — this gate runs in front of any stateful
    * pipeline at any rate. The dead-letter table is the versioned-ingest
    * shape (q252) a later catch-up job drains.
    */
  private def q372(s: SparkSession, d: String): DataFrame = {
    val run = q372Runs.incrementAndGet()
    val base = StagingDirs.dir(s, "dlq", d)
    val arrivals = s"$base/arrivals"
    StagingDirs.once(base) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
      (0 to 3).foreach { k =>
        val slice = s"$base/slice$k"
        ev.filter(col("event_id") % 4 === k)
          .coalesce(1).write.mode("overwrite").parquet(slice)
        val part = new java.io.File(slice).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(arrivals, f"b$k.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // strictly increasing mtimes: the file source's processing order
        // IS the intended batch order
        dst.setLastModified(1700000000000L + k * 60000L)
      }
    }
    val mainDir = s"$base/main_r$run"
    val deadDir = s"$base/dead_r$run"
    val ckpt = StagingDirs.register(s"$base/ckpt_r$run")
    val sch = Tables.parquet(s, arrivals).schema
    var hwmMicros = Long.MinValue // driver state: ONE scalar
    val route: (DataFrame, Long) => Unit = (batch, _) => {
      if (!batch.isEmpty) {
        batch.persist()
        val cutoff =
          if (hwmMicros == Long.MinValue) None
          else Some(hwmMicros - 3600L * 1000000L)
        val late = cutoff.map(c => unix_micros(col("ts")) < lit(c))
          .getOrElse(lit(false))
        batch.filter(!late).write.mode("append").parquet(mainDir)
        val lateRows = batch.filter(late)
        if (!lateRows.isEmpty) lateRows.write.mode("append").parquet(deadDir)
        val mx = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
        hwmMicros = math.max(hwmMicros, mx)
        batch.unpersist()
      }
    }
    val q = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(arrivals)
      .writeStream.foreachBatch(route)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val main = Tables.parquet(s, mainDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_ontime"),
        Exact.sumMoney(col("value")).as("ontime_value"))
    val dead = (if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(deadDir)))
      Tables.parquet(s, deadDir) else Tables.parquet(s, arrivals).limit(0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_late"),
        Exact.sumMoney(col("value")).as("late_value"))
    main.join(dead, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_ontime"), lit(0L)).as("n_ontime"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        coalesce(col("ontime_value"), lit(0.0)).as("ontime_value"),
        coalesce(col("late_value"), lit(0.0)).as("late_value"))
      .orderBy(col("event_type"))
  }

  private val q372Sql =
    s"""WITH b AS (SELECT *, event_id % 4 AS bk FROM events),
       |mx AS (SELECT bk, MAX(ts) AS mxts FROM b GROUP BY bk),
       |hwm AS (
       |  SELECT k.bk, MAX(m.mxts) AS hw
       |  FROM (SELECT DISTINCT bk FROM b) k
       |  LEFT JOIN mx m ON m.bk < k.bk GROUP BY k.bk),
       |cls AS (
       |  SELECT b.*, (h.hw IS NOT NULL AND
       |    b.ts < h.hw - INTERVAL 1 HOUR) AS late
       |  FROM b LEFT JOIN hwm h ON b.bk = h.bk)
       |SELECT event_type,
       |  CAST(COUNT(*) FILTER (NOT late) AS BIGINT) AS n_ontime,
       |  CAST(COUNT(*) FILTER (late) AS BIGINT) AS n_late,
       |  COALESCE(CAST(SUM(CASE WHEN NOT late
       |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0)
       |    AS ontime_value,
       |  COALESCE(CAST(SUM(CASE WHEN late
       |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0)
       |    AS late_value
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q323

  private val q323Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q323: DSv2 STREAMING WRITE into the versioned table — q252's
    * exactly-once ingest with the `foreachBatch` escape hatch REPLACED by
    * the connector surface: `df.writeStream.toTable("<cat>.tables.…")`
    * resolves through [[graft.sources.VersionedCatalog]] to a
    * `StreamingWrite` whose per-epoch commit IS the manifest commit
    * ([[graft.sources.VersionedStreamingWrite]] — tasks stage typed
    * JSON-lines part files, the driver publishes them as the next version
    * with an `epoch=` marker; cumulative `data=` lines make the latest
    * version reference the whole table). q231's epoch idempotence and
    * q252's manifest idempotence are now ONE mechanism: a replayed epoch
    * finds its marker in committed history and lands nothing
    * (Round11Spec drives the rogue-epoch replay directly). The rollup
    * reads the table BACK through the same catalog by SQL identifier and
    * hash-matches the plain batch oracle over events — failing on any
    * lost or doubled epoch.
    *
    * Scale: one manifest create per micro-batch regardless of batch
    * size; the replay check lists O(#versions) one-line manifests. The
    * JSON epoch files are the arrival format — q245's compaction folds
    * them into parquet as they age (the ingest→columnar lifecycle every
    * streaming lakehouse runs).
    */
  /** q323/q326's shared ingest: stream events into a fresh versioned
    * table through the DSv2 write face; returns (SQL table identifier,
    * table directory). One estate per (tag, invocation).
    */
  private[streaming] def ingestVersioned(s: SparkSession, d: String,
                                         tag: String): (String, String) = {
    val root = StagingDirs.dir(s, tag)
    val ckpt = StagingDirs.dir(s, s"${tag}_ckpt")
    val cat = VersionedCatalog.mount(s, "gingest", root)
    val table = s"$cat.tables.events_log"
    s.sql(s"CREATE TABLE $table " +
      "(event_type STRING, user_id BIGINT, value DOUBLE)")
    val q = streamEvents(s, d)
      .select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .option("writerTag", "ingest")
      .trigger(Trigger.AvailableNow())
      .toTable(table)
    q.awaitTermination()
    (table, s"$root/events_log")
  }

  private def q323(s: SparkSession, d: String): DataFrame = {
    val run = q323Runs.incrementAndGet()
    val (table, _) = ingestVersioned(s, d, s"vsink_r$run")
    s.table(table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q323Sql = q252Sql

  // --------------------------------------------------------------- q326

  private val q326Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q326: STREAM-TABLE COMPACTION — the columnar half of the ingest
    * lifecycle q323 opens: the stream lands many small JSON-lines epoch
    * files (the arrival format), and this pass folds the CURRENT
    * snapshot into one parquet rewrite published as the NEXT version of
    * the SAME manifest (`format=parquet`, fresh `data=` dir, one atomic
    * tryCommit) — readers mid-compaction keep the JSON snapshot until
    * the rename, and TIME TRAVEL to the pre-compaction version still
    * decodes it as JSON (per-version format dispatch,
    * VersionedCatalogSpec). The rollup reads the compacted table back
    * through the catalog and hash-matches the same batch oracle as the
    * ingest — compaction is an optimization, never a semantics change
    * (q242/q245's invariant, now across a FORMAT boundary).
    *
    * Scale: the rewrite streams the snapshot once and costs O(live
    * data); the commit is one rename regardless of size. This closes
    * the arrival→columnar loop every streaming lakehouse runs: q323
    * lands epochs, q326 folds them, q249 vacuums what nothing
    * references.
    */
  private def q326(s: SparkSession, d: String): DataFrame = {
    val run = q326Runs.incrementAndGet()
    val (table, dir) = ingestVersioned(s, d, s"vcompact_r$run")
    val vIn = graft.sources.VersionedManifest.latestCommitted(s, dir).get
    // the columnar rewrite: land fully, then one atomic manifest rename
    graft.sources.VersionedManifest.readAt(s, dir, vIn)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/d-compact-$vIn")
    // dataChange=false: same rows, new layout — streaming subscribers
    // must skip this version (never replay the table), batch readers and
    // time travel are unaffected
    require(graft.sources.VersionedManifest.tryCommit(s, dir, vIn + 1,
      s"data=d-compact-$vIn\nformat=parquet\ndataChange=false\n" +
        s"compaction of 1..$vIn"),
      s"compaction commit of version ${vIn + 1} lost a race")
    s.table(table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q326Sql = q252Sql

  // --------------------------------------------------------------- q328

  private val q328Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q328: STREAMING READ FROM the versioned table — the 2×2's last cell
    * (batch read q321, batch publish q247/q284, stream write q323, now
    * stream READ): `readStream.table(...)` resolves through the catalog
    * to [[graft.sources.VersionedMicroBatchStream]], whose OFFSETS ARE
    * MANIFEST VERSIONS — a micro-batch covers the versions committed in
    * `(start, end]` and reads exactly the files those versions added
    * (cumulative manifests diffed against their predecessor). q279's
    * committed-versions feed without the staging dir: subscriber
    * progress lives in the checkpoint's offset log, orphans are
    * invisible, and a restart resumes from the last version it
    * committed (VersionedCatalogSpec drives land → drain → land → drain
    * against one checkpoint and sees each row exactly once). The
    * streamed rollup hash-matches the batch oracle over events.
    *
    * Scale: offset resolution is O(#versions) manifest names; each
    * batch plans O(its new files); subscribers never re-list history.
    */
  private def q328(s: SparkSession, d: String): DataFrame = {
    val run = q328Runs.incrementAndGet()
    val (table, _) = ingestVersioned(s, d, s"vsrc_r$run")
    val agg = s.readStream.table(table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Exact.sumMoney(col("value")).as("total_value"))
    runToMemory(s, d, agg, "q328_sink", "complete")
      .orderBy(col("event_type"))
  }

  private val q328Sql =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q338

  private val q338Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q338: MIXED-FORMAT SUBSCRIBER FEED — the two delivery guarantees the
    * versioned table's stream source (q328) must honor once q323's ingest
    * and q326's compaction coexist with batch writers:
    *
    *  1. a BATCH PARQUET APPEND to a JSON-epoch table (a columnar
    *     correction batch, committed with per-dir `data=...;format=`
    *     addressing) FLOWS to subscribers — before this round the source
    *     listed only `.json` parts, so a batch append was silently
    *     invisible to every subscriber: data loss, not skew;
    *  2. a COMPACTION commit (`dataChange=false`: same rows, new layout)
    *     is SKIPPED — a source that diffed manifests naively would replay
    *     the entire table into every subscriber after each compaction.
    *
    * The subscriber drains the same checkpoint three times (epochs →
    * append → compaction) into a parquet file sink; the final rollup over
    * the sink hash-matches the events ⊎ error-slice oracle — doubled rows
    * (replayed compaction) or missing rows (dropped append) both break
    * the hash. Batch reads of the mixed snapshot go through the same
    * per-dir format groups ([[graft.sources.VersionedManifest.readAt]]),
    * so time travel to every intermediate version stays correct
    * (VersionedCatalogSpec).
    *
    * Scale: the append's subscriber cost is O(its files); the compaction
    * costs subscribers NOTHING (one skipped offset); the file-sink log
    * gives exactly-once delivery across drains from the checkpoint.
    */
  private def q338(s: SparkSession, d: String): DataFrame = {
    val run = q338Runs.incrementAndGet()
    val (table, dir) = ingestVersioned(s, d, s"vmix_r$run")
    val base = StagingDirs.dir(s, s"vmix_r$run") // the ingest estate's root
    val sink = StagingDirs.register(s"$base-sink")
    val ckpt = StagingDirs.register(s"$base-subckpt")
    def drain(): Unit = {
      val q = s.readStream.table(table)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // 1: the stream-landed JSON epochs
    // batch parquet APPEND: the error slice re-landed columnar, cumulative
    // manifest with per-dir format addressing (old dirs stay JSON)
    val vIn = graft.sources.VersionedManifest.latestCommitted(s, dir).get
    Tables.events(s, d).filter(col("event_type") === "error")
      .select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .write.mode("overwrite").parquet(s"$dir/d-append-$vIn")
    val prev = graft.sources.VersionedManifest
      .resolveDataDirsWithFormat(s, dir, vIn)
      .map { case (d0, f0) =>
        val rel = if (d0.startsWith(s"$dir/")) d0.stripPrefix(s"$dir/") else d0
        s"data=$rel;format=$f0"
      }
    require(graft.sources.VersionedManifest.tryCommit(s, dir, vIn + 1,
      (prev :+ s"data=d-append-$vIn;format=parquet"
        :+ "appended error correction batch (columnar)").mkString("\n")),
      "append commit lost a race")
    drain() // 2: ONLY the parquet append dir arrives
    // compaction: fold the mixed snapshot into one parquet version
    val vApp = vIn + 1
    graft.sources.VersionedManifest.readAt(s, dir, vApp)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/d-compact-$vApp")
    require(graft.sources.VersionedManifest.tryCommit(s, dir, vApp + 1,
      s"data=d-compact-$vApp\nformat=parquet\ndataChange=false\n" +
        s"compaction of 1..$vApp"),
      "compaction commit lost a race")
    drain() // 3: dataChange=false — NOTHING may arrive
    Tables.sink(s, sink, s.table(table).schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q338Sql =
    s"""WITH feed AS (
       |  SELECT event_type, user_id, value FROM events
       |  UNION ALL
       |  SELECT event_type, user_id, value FROM events
       |  WHERE event_type = 'error')
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q351

  private val q351Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q351: BRANCH-SCOPED SUBSCRIPTION — q349's publish gate extended to
    * STREAMING consumers (Iceberg's branch-scoped reads): the subscriber
    * passes `option("branch", "main")` and its visibility horizon becomes
    * the branch HEAD, not the newest commit — a correction batch that is
    * committed but not yet fast-forwarded onto `main` does NOT reach the
    * feed (the middle drain must deliver zero rows, require()d in-flow),
    * and arrives exactly once after the one-CAS publish. Offsets stay
    * manifest versions in the same checkpoint, so the gate composes with
    * everything the source already honors (admission control q328,
    * compaction skip q338, exactly-once file-sink delivery). An unknown
    * branch refuses at stream start rather than silently draining the
    * whole table (Round11Spec).
    *
    * Scale: the branch cap adds ONE tiny-file pointer read per offset
    * resolution — O(1) against table size; everything else is q328's
    * cost model (O(#versions) names, O(new files) per batch).
    */
  private def q351(s: SparkSession, d: String): DataFrame = {
    val run = q351Runs.incrementAndGet()
    val (table, dir) = ingestVersioned(s, d, s"vbr_r$run")
    val M = graft.sources.VersionedManifest
    val vIn = M.latestCommitted(s, dir).get
    M.createBranch(s, dir, "main", vIn)
    val base = StagingDirs.dir(s, s"vbr_r$run") // the ingest estate's root
    val sink = StagingDirs.register(s"$base-sink")
    val ckpt = StagingDirs.register(s"$base-subckpt")
    def drain(): Unit = {
      val q = s.readStream.option("branch", "main").table(table)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // 1: everything on main (the ingested epochs)
    val schema = s.table(table).schema
    val afterFirst = Tables.sink(s, sink, schema).count()
    // the correction batch: COMMITTED, but not yet published to main
    val prev = M.resolveDataDirsWithFormat(s, dir, vIn).map { case (d0, f0) =>
      val rel = if (d0.startsWith(s"$dir/")) d0.stripPrefix(s"$dir/") else d0
      s"data=$rel;format=$f0"
    }
    Tables.events(s, d).filter(col("event_type") === "error")
      .select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"))
      .write.mode("overwrite").parquet(s"$dir/d-fix-$vIn")
    require(M.tryCommit(s, dir, vIn + 1,
      (prev :+ s"data=d-fix-$vIn;format=parquet"
        :+ "error correction batch (pending publish)").mkString("\n")),
      "correction commit lost a race")
    drain() // 2: main still points BEFORE the correction — nothing arrives
    require(Tables.sink(s, sink, schema).count() == afterFirst,
      "branch-scoped subscriber drained past the branch head")
    // the publish: one CAS fast-forward, then the correction flows
    require(M.advanceBranch(s, dir, "main", 0, vIn + 1),
      "main fast-forward lost a race")
    drain() // 3: exactly the correction batch
    Tables.sink(s, sink, schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val q351Sql = q338Sql

  // --------------------------------------------------------------- q360

  /** q360: MULTI-LAG STREAM UNION — two legs of the event feed carry
    * DIFFERENT lateness contracts (interactions settle in 30 minutes;
    * transactions may arrive 2 hours late — the heterogeneous-source
    * union every production topology hits when fast clickstreams meet
    * slow billing feeds), each leg watermarked with its OWN delay before
    * the union, so the stateful window aggregate downstream evicts by
    * Spark's multipleWatermarkPolicy (min by default: the SLOWEST leg
    * gates state eviction — correctness over memory; Round11Spec pins
    * that BOTH EventTimeWatermark nodes with their distinct delays
    * survive into the analyzed plan). The windowed per-leg rollup
    * hash-matches the batch oracle.
    *
    * Scale: state is |windows × legs| — bounded by the time range, not
    * input volume (q90's invariant), and the min policy means sizing
    * state for the slowest contract, which is exactly the decision this
    * operator surfaces.
    */
  private def q360(s: SparkSession, d: String): DataFrame = {
    val agg = unionLagged(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("leg"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total"))
    runToMemory(s, d, agg, "q360_sink", "complete")
      .select(col("w.start").as("hour_start"), col("leg"), col("n"),
        col("total"))
      .orderBy(col("hour_start"), col("leg"))
  }

  /** q360's two-contract union, exposed for the spec's plan pin. */
  private[graft] def unionLagged(s: SparkSession, d: String): DataFrame = {
    val ev = streamEvents(s, d)
    val fast = ev.filter(col("event_type").isin("click", "view"))
      .withWatermark("ts", "30 minutes")
      .withColumn("leg", lit("interactions"))
    val slow = ev.filter(!col("event_type").isin("click", "view"))
      .withWatermark("ts", "2 hours")
      .withColumn("leg", lit("transactions"))
    fast.unionByName(slow)
  }

  private val q360Sql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       |  CASE WHEN event_type IN ('click', 'view') THEN 'interactions'
       |       ELSE 'transactions' END AS leg,
       |  COUNT(*) AS n, ${Exact.sqlSumMoney("value")} AS total
       |FROM events GROUP BY 1, 2
       |ORDER BY hour_start, leg""".stripMargin

  // --------------------------------------------------------------- q279

  /** Stage every COMMITTED version's part files of a versioned-manifest
    * estate into a file-stream landing dir (idempotent: existing links are
    * kept, Spark part-file names are job-UUID-unique). This is the
    * subscription gate of [[graft.sources.VersionedManifest]]'s read side:
    * only data the manifest committed ever reaches the stream source, so
    * an orphan `v=K` (failed or in-flight writer) is invisible to
    * subscribers exactly as it is to batch readers.
    */
  private[streaming] def stageCommittedVersions(s: SparkSession,
                                                estate: String,
                                                stage: java.io.File): Unit =
    graft.sources.VersionedManifest.committedVersions(s, estate)
      .foreach(v => stageLinks(stage, s"$estate/v=$v"))

  private val q279Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q279: streaming FEED of the versioned table — the READ half of
    * q252's exactly-once versioned ingest: a subscriber follows the
    * commit log, each committed version's files flow into a file-stream
    * source through [[stageCommittedVersions]] (the manifest is the
    * gate), and the running rollup reflects exactly the committed data.
    * The staged estate ends with a POISONED orphan — `v=4` holds a full
    * duplicate of v=1's rows with no manifest commit — so a feed that
    * listed data directories instead of the manifest would double-count
    * slice 0 and hash-mismatch the oracle. StreamsSpec drives the
    * multi-batch arrival (per-commit staging between micro-batches) and
    * re-staging idempotence.
    *
    * Scale: the subscriber lists O(#versions) manifests per poll and
    * streams only new files; state is the rollup's — the feed itself is
    * stateless. This is Delta's change-feed consumption pattern with the
    * manifest as the source of truth.
    */
  private def q279(s: SparkSession, d: String): DataFrame = {
    val run = q279Runs.incrementAndGet()
    val estate = StagingDirs.dir(s, "vfeed", s"r$run")
    val stage = new java.io.File(StagingDirs.dir(s, "vfeed_stage", s"r$run"))
    stage.mkdirs()
    val ev = Tables.events(s, d)
    (0 to 2).foreach { slice =>
      ev.filter(col("event_id") % 3 === slice)
        .write.mode("overwrite").parquet(s"$estate/v=${slice + 1}")
      graft.sources.VersionedManifest.commit(s, estate, slice + 1, s"slice $slice")
    }
    // the poison: a full duplicate of slice 0, landed but NEVER committed
    ev.filter(col("event_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$estate/v=4")
    stageCommittedVersions(s, estate, stage)
    val feed = s.readStream.schema(ev.schema).parquet(stage.getAbsolutePath)
    runToMemory(s, d,
      feed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_event"),
          Exact.sumMoney(col("value")).as("total_value")),
      "q279_sink", "complete")
      .orderBy(col("event_type"))
  }

  private val q279Sql =
    s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(event_id) AS min_event,
       |  ${Exact.sqlSumMoney("value")} AS total_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q270

  private val q270Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q270: streaming-state introspection — the ops face of a stateful
    * pipeline. Runs the continuous dedup gate as a real streaming query
    * (`dropDuplicates` on the q227 passage fingerprint, state checkpointed),
    * then reads the checkpoint's state store back as a DataFrame via the
    * `statestore` data source and audits it: number of state keys and the
    * key range. The oracle is the batch truth the state must equal —
    * `COUNT(DISTINCT fp)` over the same input — so a state store that
    * dropped, doubled, or corrupted a key hash-mismatches.
    *
    * This is how a 100 TB operator answers "how big is my state and what's
    * in it" WITHOUT touching the running query: the state source reads the
    * checkpoint files directly (one task per store partition, parallel over
    * the same HDFS layout the query writes), supports time travel to any
    * retained `batchId`, and feeds the same audit queries as any table.
    * StreamsSpec pins the `state-metadata` operator inventory and the
    * batchId time-travel face; state growth itself is measured in
    * BASELINE.md's state table (constant per distinct fingerprint).
    */
  private def q270(s: SparkSession, d: String): DataFrame = {
    val run = q270Runs.incrementAndGet()
    val ckpt = StagingDirs.dir(s, "statespect", s"r$run")
    withStreamParts(s, d) { s =>
      val q = streamDocs(s, d).select(passageFp(col("text")).as("fp"))
        .dropDuplicates("fp").writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.format("statestore").load(ckpt)
      .agg(
        count(lit(1)).as("n_state_keys"),
        min(col("key.fp")).as("first_key"),
        max(col("key.fp")).as("last_key"))
  }

  private val q270Sql =
    """WITH f AS (
      |  SELECT DISTINCT md5(array_to_string(
      |    (list_filter(string_split(text, ' '), t -> length(t) > 0))[1:32],
      |    ' ')) AS fp
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_state_keys,
      |       MIN(fp) AS first_key, MAX(fp) AS last_key
      |FROM f""".stripMargin

  // --------------------------------------------------------------- q393

  /** q393: ROCKSDB STATE STORE — the same streaming semantics on the
    * state backend a PRODUCTION deployment runs: the default HDFS-backed
    * provider keeps every key on the executor heap (state must fit in
    * memory — a non-starter for billion-key dedup at 100 TB), while
    * RocksDB spills to local disk with incremental checkpointing. The
    * query deduplicates a DOUBLED event stream (the file source unioned
    * with itself — every event arrives exactly twice) by event_id under
    * a watermark, so the state store does real work: one state row per
    * distinct event, hit once as `first` and once as `dup`. The per-type
    * tallies hash-match the batch oracle (dedup output is arrival-order
    * free — either copy dropping yields the same set), and the result
    * carries in-band evidence that RocksDB actually served the state:
    * the query progress's per-operator custom metrics are rocksdb-only
    * counters (`rocksdbGetCount` etc.), absent under the default
    * provider (pinned both ways in StreamsSpec).
    *
    * Scale: state is (event_id)-keyed — 8 bytes of key per distinct
    * event, shuffled once; the provider swap changes WHERE state lives
    * (heap → local SST files), not the plan, which is exactly why it is
    * a config, not a rewrite.
    */
  private def q393(s: SparkSession, d: String): DataFrame = {
    withConf(s, rocksDbProvider) { s =>
      val ev = streamEvents(s, d)
        .select(col("event_id"), col("ts"), col("event_type"))
      val doubled = ev.unionByName(streamEvents(s, d)
        .select(col("event_id"), col("ts"), col("event_type")))
      val dedup = doubled
        .withWatermark("ts", "24 hours")
        .dropDuplicates("event_id")
      val q = dedup.writeStream.format("memory").queryName("q393_sink")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      val rocksdbServed = q.recentProgress.exists(p =>
        Option(p.stateOperators).exists(_.exists(op =>
          op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))))
      s.table("q393_sink")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_distinct"))
        .withColumn("rocksdb_state", lit(rocksdbServed))
        .orderBy(col("event_type"))
    }
  }

  private val q393Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  true AS rocksdb_state
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q403

  private val q403Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q403: STREAMING SCD2 APPLY — the third CDC-into-the-table pattern,
    * completing the trio: q252 APPENDS each epoch, q367 keeps ONE live
    * row per key (type-1), THIS builds the full TYPE-2 HISTORY
    * ([[graft.sources.VersionedManifest.applyScd2]]): every change
    * closes its key's open interval and opens a new one, so the
    * dimension q176/q286/q350 JOIN against is now also PRODUCED by the
    * engine, from a stream, exactly once (epoch markers in the manifest
    * body — a replayed epoch lands nothing; StreamsSpec drives replay
    * and the late-change refusal). The rollup — intervals, open rows,
    * and the CLOSED-interval span in exact microseconds (end−start
    * differences are timezone-offset-immune) — hash-matches the batch
    * oracle's lead() replay over all events, which fails on any lost,
    * doubled, or mis-chained interval.
    *
    * Scale: per epoch — one semi-join discovery, O(affected dirs +
    * batch) rewrite, interval chaining windowed by KEY over the batch
    * only. History grows append-only; the dimension never rewrites
    * whole.
    */
  private def q403(s: SparkSession, d: String): DataFrame = {
    val M = graft.sources.VersionedManifest
    val run = q403Runs.incrementAndGet()
    val dir = StagingDirs.dir(s, "scd2a", s"r$run")
    val ckpt = StagingDirs.dir(s, "scd2a_ckpt", s"r$run")
    if (M.latestCommitted(s, dir).isEmpty) {
      streamEventsSchemaFrame(s, d)
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts").as("start_ts"), col("ts").as("end_ts"))
        .limit(0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(s, dir, 1, "bootstrap empty dimension")
    }
    val applyBatch: (DataFrame, Long) => Unit = (batch, epoch) => {
      val marker = s"epoch=$epoch"
      val seen = M.committedVersions(s, dir).exists(v =>
        M.describe(s, dir, v).linesIterator.exists(_.trim == marker))
      if (!seen && !batch.isEmpty)
        M.applyScd2(s, dir,
          batch.select(col("user_id"), col("event_type"), col("value"),
            col("ts"), col("event_id")),
          "user_id", "ts", "event_id", marker)
    }
    withStreamParts(s, d) { s =>
      val q = streamEvents(s, d).writeStream
        .foreachBatch(applyBatch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    M.readLatest(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("end_ts").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(when(col("end_ts").isNull, 0L).otherwise(
          unix_micros(col("end_ts")) - unix_micros(col("start_ts"))))
          .as("closed_span_us"))
      .orderBy(col("event_type"))
  }

  /** A zero-row frame carrying the normalized events schema (for
    * bootstrap writes that must agree with what the stream lands). */
  private def streamEventsSchemaFrame(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  private val q403Sql =
    """WITH iv AS (
      |  SELECT user_id, event_type, value, ts AS start_ts,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS end_ts
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(COUNT(*) FILTER (WHERE end_ts IS NULL) AS BIGINT) AS n_open,
      |  CAST(SUM(CASE WHEN end_ts IS NULL THEN 0
      |    ELSE epoch_us(end_ts) - epoch_us(start_ts) END) AS BIGINT)
      |    AS closed_span_us
      |FROM iv GROUP BY 1 ORDER BY 1""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q403_scd2_apply" -> q403,
    "q393_rocksdb_state" -> q393,
    "q270_state_introspection" -> q270,
    "q279_version_feed" -> q279,
    "q252_stream_versioned_ingest" -> q252,
    "q323_versioned_stream_sink" -> q323,
    "q326_stream_table_compaction" -> q326,
    "q367_stream_lww_upsert" -> q367,
    "q372_late_deadletter" -> q372,
    "q328_versioned_stream_source" -> q328,
    "q338_mixed_format_feed" -> q338,
    "q351_branch_subscriber" -> q351,
    "q360_stream_union_lagged" -> q360,
    "q227_stream_dedup_gate" -> q227,
    "q244_stream_dynamic_session" -> q244,
    "q143_stream_left_outer" -> q143,
    "q194_stream_full_outer" -> q194,
    "q202_stream_right_outer" -> q202,
    "q148_stream_chained_windows" -> q148,
    "q183_stream_dedup_agg" -> q183,
    "q106_stream_update_upsert" -> q106,
    "q132_stream_mapstate" -> q132,
    "q122_stream_tws_tally" -> q122,
    "q99_stream_static_join" -> q99,
    "q286_stream_scd2_enrich" -> q286,
    "q325_stream_stream_scd2" -> q325,
    "q98_stream_stream_join" -> q98,
    "q378_stream_semi_join" -> q378,
    "q94_stream_sliding" -> q94,
    "q90_stream_tumbling" -> q90,
    "q91_stream_session" -> q91,
    "q92_stream_dedup" -> q92,
    "q93_stream_stateful" -> q93
  )

  override def oracles: Map[String, String] = Map(
    "q403_scd2_apply" -> q403Sql,
    "q393_rocksdb_state" -> q393Sql,
    "q270_state_introspection" -> q270Sql,
    "q279_version_feed" -> q279Sql,
    "q252_stream_versioned_ingest" -> q252Sql,
    "q323_versioned_stream_sink" -> q323Sql,
    "q326_stream_table_compaction" -> q326Sql,
    "q367_stream_lww_upsert" -> q367Sql,
    "q372_late_deadletter" -> q372Sql,
    "q328_versioned_stream_source" -> q328Sql,
    "q338_mixed_format_feed" -> q338Sql,
    "q351_branch_subscriber" -> q351Sql,
    "q360_stream_union_lagged" -> q360Sql,
    "q227_stream_dedup_gate" -> q227Sql,
    "q244_stream_dynamic_session" -> q244Sql,
    "q143_stream_left_outer" -> q143Sql,
    "q194_stream_full_outer" -> q194Sql,
    "q202_stream_right_outer" -> q202Sql,
    "q148_stream_chained_windows" -> q148Sql,
    "q183_stream_dedup_agg" -> q183Sql,
    "q106_stream_update_upsert" -> q106Sql,
    "q132_stream_mapstate" -> q132Sql,
    "q122_stream_tws_tally" -> q122Sql,
    "q99_stream_static_join" -> q99Sql,
    "q286_stream_scd2_enrich" -> q286Sql,
    "q325_stream_stream_scd2" -> q325Sql,
    "q98_stream_stream_join" -> q98Sql,
    "q378_stream_semi_join" -> q378Sql,
    "q94_stream_sliding" -> q94Sql,
    "q90_stream_tumbling" -> q90Sql,
    "q91_stream_session" -> q91Sql,
    "q92_stream_dedup" -> q92Sql,
    "q93_stream_stateful" -> q93Sql
  )
}
