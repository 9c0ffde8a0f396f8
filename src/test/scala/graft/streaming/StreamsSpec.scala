package graft.streaming

import graft.SparkSpec
import graft.GraftSession.withConf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Multi-batch streaming semantics the single-batch backfill verify cannot
  * exercise: state carried across micro-batches, and watermarks actually
  * dropping late data.
  */
class StreamsSpec extends SparkSpec {

  private val rocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val MinUs = 60L * 1000 * 1000

  test("sessionStats accumulates state across micro-batches (stream-batch parity)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = Streams.sessionStats(input.toDS())
      .toDF("user_id", "n_sessions", "n_events")
      .writeStream.format("memory").queryName("ss_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 -> two events 5 min apart (one session)
      input.addData((1L, 0L), (1L, 5 * MinUs))
      q.processAllAvailable()
      // batch 2: user 1 -> an event 40 min later (gap >= 30 min: new session)
      // plus user 2's first event
      input.addData((1L, 45 * MinUs), (2L, 0L))
      q.processAllAvailable()
      val last = spark.table("ss_sink")
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"), max(col("n_events")).as("n_events"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(last(1L) == ((2L, 3L)), s"user 1 got ${last(1L)}")
      assert(last(2L) == ((1L, 1L)), s"user 2 got ${last(2L)}")
    } finally q.stop()
  }

  test("watermark drops are quantified: numRowsDroppedByWatermark counts the late row") {
    // observability contract for every watermarked operator in the module:
    // a row behind the watermark is (a) absent from the result AND (b)
    // COUNTED in the progress metrics — silent data loss is not silent.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val counts = input.toDS().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
      .count()
    val q = counts.writeStream.format("memory").queryName("late_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, 0L), (1L, 60 * MinUs)) // batch 1: watermark -> 50 min
      q.processAllAvailable()
      input.addData((2L, 5 * MinUs)) // 5 min << watermark: late, must drop
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatMap(_.map(_.numRowsDroppedByWatermark))).sum
      assert(dropped >= 1L, "late row was not counted as dropped")
      assert(spark.table("late_sink").filter(col("user_id") === 2L).isEmpty,
        "late row leaked into the result")
    } finally q.stop()
  }

  test("dynamic session gap varies WITHIN one key (purchase extends the session)") {
    // q244 keys by (user, type), so its gap is constant per group and a
    // batch gaps-and-islands oracle can replay it. THIS case is the merge
    // semantics no batch SQL expresses (r9 verdict #6): keyed by user
    // alone, the gap comes from the event type, so a purchase's 2-hour
    // window keeps a session open that the next view's own 30-minute gap
    // would have closed. Spark merges on overlapping [ts, ts+gap) windows:
    //   view@0      -> [0, 30)
    //   purchase@10 -> [10, 130)   merges with the view
    //   view@100    -> [100, 130)  90 min after the last event — INSIDE the
    //                              purchase's window, so it merges too; a
    //                              current-row-gap replay (90 >= 30) would
    //                              have split here
    //   view@300    -> a genuinely new session
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val gap = when(col("event_type") === "purchase",
      expr("make_interval(0, 0, 0, 0, 0, 120, 0)"))
      .otherwise(expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    val agg = input.toDS().toDF("user_id", "event_type", "us")
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("dyn_gap_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        (1L, "view", 0L), (1L, "purchase", 10 * MinUs),
        (1L, "view", 100 * MinUs), (1L, "view", 300 * MinUs))
      q.processAllAvailable()
      val sessions = spark.table("dyn_gap_sink")
        .select(col("w.start").cast("long").as("s"),
          col("w.end").cast("long").as("e"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(sessions.toSeq == Seq(
        (0L, 130L * 60, 3L),          // one merged session ending at
                                      // purchase.ts + 2 h, carrying BOTH
                                      // later views
        (300L * 60, 330L * 60, 1L)),  // the next view opens fresh
        s"got ${sessions.toSeq}")
    } finally q.stop()
  }

  test("versioned ingest: a replayed epoch lands nothing (manifest idempotence)") {
    // q252's exactly-once claim, exercised at the point the oracle can't
    // see: re-running an epoch whose manifest already committed — the
    // at-least-once window after a crash between sink work and offset
    // commit — must not change the table, even with different input
    import graft.sources.VersionedManifest
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = tempDir("graft_vingest_spec")
    val ckpt = tempDir("graft_vingest_ckpt")
    val land: (DataFrame, Long) => Unit = (batch, epoch) => {
      val v = epoch + 1
      if (!VersionedManifest.committedVersions(spark, dir).contains(v)) {
        batch.write.mode("overwrite").parquet(s"$dir/v=$v")
        VersionedManifest.commit(spark, dir, v, s"epoch $epoch")
      }
    }
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("id", "x").writeStream.foreachBatch(land)
      .option("checkpointLocation", ckpt).start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(VersionedManifest.committedVersions(spark, dir) == Seq(1L, 2L))
    // the replay: epoch 0 fires again, this time carrying a rogue row
    land(Seq((9L, "z")).toDF("id", "x"), 0L)
    val log = Seq(1L, 2L)
      .map(VersionedManifest.readAt(spark, dir, _))
      .reduce(_.unionByName(_))
    assert(log.count() == 3, "replayed epoch changed the committed table")
    assert(log.filter(col("id") === 9L).isEmpty,
      "replayed epoch's data became visible")
  }

  test("watermark drops events later than the lateness bound") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[java.sql.Timestamp]
    val counts = input.toDF().toDF("ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val q = counts.writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(min: Long) = new java.sql.Timestamp(min * 60 * 1000)
      input.addData(ts(5), ts(7))       // window [0,10)
      q.processAllAvailable()
      input.addData(ts(60))             // advances watermark to minute 50
      q.processAllAvailable()
      input.addData(ts(8))              // LATE: before watermark, must be dropped
      q.processAllAvailable()
      input.addData(ts(120))            // close window [60,70)
      q.processAllAvailable()
      val got = spark.table("wm_sink")
        .collect().map(r => r.getTimestamp(0).getTime / 60000 -> r.getLong(1)).toMap
      assert(got(0L) == 2L, s"window [0,10) should have 2 on-time events, got $got")
      // the late ts(8) must not have re-opened or re-counted window [0,10)
      assert(!got.contains(10L) || got(0L) == 2L)
    } finally q.stop()
  }

  test("q106 upsert changelog converges over many micro-batches") {
    import org.apache.spark.sql.types._
    // the single-file backfill verify runs q106 as ONE micro-batch; here
    // the SAME code (Streams.upsertAggregate) is driven one file per
    // trigger, so keys are genuinely re-upserted across batches and the
    // last-write-wins replay has real work to do
    val stage = tempDir("graft_q106_multi")
    val sink = tempDir("graft_q106_sink")
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    // split into 3 arriving files; pmod over event_id interleaves hours so
    // most (type, hour) keys are touched by more than one batch
    (0 until 3).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/part$i")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(stage)
    val got = Streams.upsertAggregate(spark, stream, sink).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // it really ran as several micro-batches, and some key was upserted
    val changelog = spark.read.parquet(sink)
    val nBatches = changelog.select(col("batch_id")).distinct().count()
    assert(nBatches >= 3, s"expected >=3 micro-batches, got $nBatches")
    assert(changelog.count() > got.size, "no key was ever re-upserted")
    // stream-batch parity: the converged upsert view equals the batch agg
    val want = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"), graft.Exact.sumMoney(col("value")).as("total"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want)
  }

  test("transformWithState tally accumulates typed state across micro-batches") {
    withConf(spark, rocksDbProvider) { spark =>
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val input = MemoryStream[(Long, Long)]
      val q = Streams.purchaseTally(input.toDS())
        .toDF("user_id", "n", "cents")
        .writeStream.format("memory").queryName("tws_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData((1L, 100L), (1L, 50L), (2L, 10L))
        q.processAllAvailable()
        input.addData((1L, 25L)) // user 1's ValueState must carry over
        q.processAllAvailable()
        val last = spark.table("tws_sink")
          .groupBy(col("user_id"))
          .agg(max(struct(col("n"), col("cents"))).as("l"))
          .select(col("user_id"), col("l.n"), col("l.cents"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(last(1L) == ((3L, 175L)), s"user 1 got ${last(1L)}")
        assert(last(2L) == ((1L, 10L)), s"user 2 got ${last(2L)}")
      } finally q.stop()
    }
  }

  test("MapState tally keeps per-type counters across micro-batches") {
    withConf(spark, rocksDbProvider) { spark =>
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = Streams.typeTally(input.toDS())
        .toDF("user_id", "event_type", "n")
        .writeStream.format("memory").queryName("mapstate_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        input.addData((1L, "click"), (1L, "view"), (2L, "click"))
        q.processAllAvailable()
        input.addData((1L, "click")) // user 1's click counter must carry over
        q.processAllAvailable()
        val last = spark.table("mapstate_sink")
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(col("n")).as("n")) // counters are monotone per (user, type)
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(last((1L, "click")) == 2L, s"got $last")
        assert(last((1L, "view")) == 1L && last((2L, "click")) == 1L, s"got $last")
      } finally q.stop()
    }
  }

  test("timer-driven session assembly emits each session once, on watermark passage") {
    withConf(spark, rocksDbProvider) { spark =>
      import spark.implicits._
      implicit val sc = spark.sqlContext
      val gap = 600000L // 10 min
      val input = MemoryStream[(Long, Long)]
      val q = Streams.assembleSessions(input.toDS(), gap)
        .toDF("user_id", "session_start", "n_events")
        .writeStream.format("memory").queryName("session_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        // batch 1: user 1 has two events inside one session; user 2 one
        // event. Watermark after the batch is 300,000 — below every
        // session-end + gap, so nothing fires (not even in the no-data
        // batch Spark appends after a watermark advance).
        input.addData((1L, 1000L), (1L, 300000L), (2L, 1000L))
        q.processAllAvailable()
        assert(spark.table("session_sink").isEmpty,
          "no session may close before the watermark passes its end + gap")
        // batch 2 advances the watermark to 2,000,000; the trailing no-data
        // batch fires the user-1/2 timers (at 900,000 / 601,000) — each
        // closed session emitted exactly once; user 3's timer (2,600,000)
        // stays armed
        input.addData((3L, 2000000L))
        q.processAllAvailable()
        val afterB2 = spark.table("session_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(afterB2 == Set((1L, 1000L, 2L), (2L, 1000L, 1L)), s"got $afterB2")
        // batch 3 pushes the watermark past user 3's timer: its session
        // closes too, and nothing re-emits for users 1/2 (state was cleared)
        input.addData((4L, 5000000L))
        q.processAllAvailable()
        val got = spark.table("session_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == afterB2 + ((3L, 2000000L, 1L)), s"got $got")
      } finally q.stop()
    }
  }

  test("streaming parquet file sink is exactly-once across restarts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tempDir("graft_fsink")
    val ckpt = tempDir("graft_fsink_ck")
    val input = MemoryStream[Long]
    def start() = input.toDF().toDF("v")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    try { input.addData(1L to 100L: _*); q1.processAllAvailable() } finally q1.stop()
    // restart against the same checkpoint: the committed batch must not
    // replay, the new batch must land exactly once
    val q2 = start()
    try { input.addData(101L to 150L: _*); q2.processAllAvailable() } finally q2.stop()
    // readers see only files committed in _spark_metadata (exactly-once view)
    val back = spark.read.parquet(out)
    assert(back.count() == 150L)
    assert(back.agg(sum(col("v"))).head.getLong(0) == (1L to 150L).sum)
  }

  test("file source + aggregation state recover from a checkpoint restart") {
    // the ops-critical path the MemoryStream tests can't cover: a REAL
    // file source tracking seen files in the checkpoint, and the state
    // store reloading aggregate state on restart — new files land in the
    // running totals without the old files re-reading
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft_cpin")
    val cp = tempDir("graft_cpck")
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(in)
    def run(name: String) = {
      val agg = spark.readStream.schema("k STRING, v BIGINT").parquet(in)
        .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    val q1 = run("cp_run1")
    val t1 = spark.table("cp_run1").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(t1 == Map("a" -> ((2L, 3L)), "b" -> ((1L, 3L))), s"run1 got $t1")
    assert(q1.recentProgress.map(_.numInputRows).sum == 3L)
    // a second file arrives while the query is down
    Seq(("a", 10L), ("c", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = run("cp_run2")
    val t2 = spark.table("cp_run2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(t2 == Map("a" -> ((3L, 13L)), "b" -> ((1L, 3L)), "c" -> ((1L, 5L))),
      s"state not recovered: $t2")
    // only the NEW file was read on restart
    assert(q2.recentProgress.map(_.numInputRows).sum == 2L,
      "restart re-processed already-committed input")
  }

  test("stream-stream join matrix is invariant to micro-batch slicing") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    // the guarantee a redeploy with a different trigger cadence leans on:
    // q98/q143/q194/q202's join body yields the SAME rows whether the
    // backfill arrives as one file or as four rate-limited micro-batches
    // (maxFilesPerTrigger = 1 — the L1 num_pages analog on the source)
    val ev = graft.Tables.events(spark, sf0001)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
    val one = tempDir("graft_inv_one")
    val sliced = tempDir("graft_inv_sliced")
    ev.coalesce(1).write.mode("overwrite").parquet(s"$one/all")
    // four CONTIGUOUS time slices arriving in event-time order (mod times
    // force the file source's processing order): watermarks then only
    // ever advance past data already processed, so no input is dropped
    // and the final emitted set must match the single-batch run exactly
    val withSlice = ev.withColumn("sl", ntile(4).over(Window.orderBy(col("ts"))))
    (1 to 4).foreach { i =>
      withSlice.filter(col("sl") === i).drop("sl")
        .coalesce(1).write.mode("overwrite").parquet(s"$sliced/part$i")
      new java.io.File(s"$sliced/part$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1000000000000L + i * 60000L))
    }
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def run(dir: String, rateLimited: Boolean, joinType: String,
            name: String): (Seq[String], Int) = {
      var reader = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
      if (rateLimited) reader = reader.option("maxFilesPerTrigger", 1)
      val joined = Streams.signupPurchaseJoin(reader.parquet(dir), joinType)
        .select(col("user_id"), col("p_user"), col("signup_ts"),
          col("p_ts"), col("value"))
      spark.catalog.dropTempView(name)
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      (spark.table(name).collect().map(_.toSeq.mkString("|")).sorted.toSeq,
        dataBatches)
    }
    for (jt <- Seq("inner", "left_outer", "full_outer", "right_outer")) {
      val (a, nOne) = run(one, rateLimited = false, jt, s"inv_one_$jt")
      val (b, nSliced) = run(sliced, rateLimited = true, jt, s"inv_sliced_$jt")
      assert(nOne === 1, s"$jt single-file run took $nOne data batches")
      assert(nSliced >= 4,
        s"$jt rate-limited run coalesced into $nSliced data batches")
      assert(a.nonEmpty, s"$jt produced no rows — vacuous")
      assert(a === b, s"$jt results differ under micro-batch slicing")
    }
  }

  test("rate-micro-batch source: deterministic rows per trigger (backpressure knob)") {
    import org.apache.spark.sql.streaming.Trigger
    // the third source family next to files and MemoryStream: Spark's
    // rate-micro-batch provider emits EXACTLY rowsPerBatch rows per
    // trigger with deterministic (value, batch-aligned timestamp) rows —
    // the harness analog of a throttled ingest (the L1 num_pages
    // cadence), and the knob a backpressure story tunes. Drive 5 batches
    // through the same hourly aggregation shape the file queries use and
    // pin both the per-batch row count and the deterministic values.
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100)
      .option("numPartitions", 4)
      .option("startTimestamp", 0)
      .load() // schema: (timestamp TIMESTAMP, value LONG)
    spark.catalog.dropTempView("rate_sink")
    val agg = src.groupBy((col("value") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    val q = agg.writeStream.format("memory").queryName("rate_sink")
      .outputMode("complete").trigger(Trigger.ProcessingTime(0L)).start()
    try {
      // wait until 5 data batches (500 rows) have flowed
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
        (q.recentProgress.map(_.numInputRows).sum < 500L)) Thread.sleep(100)
      assert(q.recentProgress.map(_.numInputRows).sum >= 500L,
        "rate-micro-batch source never delivered 5 batches")
      // every data batch carried exactly rowsPerBatch rows
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(sizes.forall(_ == 100L),
        s"batch sizes not pinned to rowsPerBatch: $sizes")
    } finally q.stop()
    // deterministic content: values are exactly 0..N-1, so each mod-10
    // bucket holds N/10 of them (complete mode re-emits the full agg)
    val rows = spark.table("rate_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val n = rows.map(_._2).sum
    assert(n % 100 == 0 && n >= 500, s"unexpected total $n")
    rows.foreach { case (bucket, cnt, sv) =>
      assert(cnt === n / 10, s"bucket $bucket count $cnt of $n")
      // sum over {bucket, bucket+10, ..., bucket + 10*(cnt-1)}
      assert(sv === cnt * bucket + 10L * cnt * (cnt - 1) / 2,
        s"bucket $bucket sum $sv not the deterministic series")
    }
  }

  test("streaming file sink partitions output by column (landing-zone layout)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = tempDir("graft_pout")
    val cp = tempDir("graft_pck")
    val input = MemoryStream[(String, Long)]
    val q = input.toDS().toDF("k", "v")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .partitionBy("k")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("a", 1L), ("b", 2L), ("a", 3L))
      q.processAllAvailable()
    } finally q.stop()
    // hive-style partition directories on disk...
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("k=")).sorted
    assert(dirs.toSeq == Seq("k=a", "k=b"), s"got ${dirs.toSeq}")
    // ...and partition pruning applies on read-back
    // (partition columns come back LAST in the schema — select by name)
    val back = spark.read.parquet(out).filter(col("k") === "a").select("v")
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("q227 dedup gate: ARRIVAL order wins across batches, state persists") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupGate(spark, input.toDS().toDF("doc_id", "text"))
      .toDF("doc_id", "fp", "status")
      .writeStream.format("memory").queryName("gate_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: docs 10 and 11 (distinct text), doc 12 duplicating 10
      input.addData((10L, "alpha beta gamma"), (11L, "delta epsilon"),
        (12L, "alpha beta gamma"))
      q.processAllAvailable()
      // batch 2: doc 5 re-sends doc 10's text — a LOWER id arriving LATER
      // must still classify dup (arrival order, not id order: the batch
      // oracle can't see this, which is why this pin exists), plus a
      // fresh doc 13
      input.addData((5L, "alpha beta gamma"), (13L, "zeta eta"))
      q.processAllAvailable()
      val got = spark.table("gate_sink").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got === Map(10L -> "first", 11L -> "first", 12L -> "dup",
        5L -> "dup", 13L -> "first"), s"got $got")
    } finally q.stop()
  }

  test("version feed: commits arrive per micro-batch, orphans never surface") {
    import graft.sources.{VersionedManifest => VM}
    import spark.implicits._
    val estate = tempDir("graft_vfeed_spec")
    val stage = new java.io.File(tempDir("graft_vfeed_specstage"))
    Seq((1L, "a"), (2L, "a")).toDF("k", "t").write.parquet(s"$estate/v=1")
    VM.commit(spark, estate, 1, "v1")
    Streams.stageCommittedVersions(spark, estate, stage)
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$estate/v=1").schema)
      .parquet(stage.getAbsolutePath)
    val q = feed.groupBy("t").count()
      .writeStream.format("memory").queryName("vfeed_spec")
      .outputMode("complete").start()
    def counts() = spark.table("vfeed_spec").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      q.processAllAvailable()
      assert(counts() == Map("a" -> 2L), counts().toString)
      // v2 commits; v3 lands a DUPLICATE of v1 but never commits
      Seq((3L, "b")).toDF("k", "t").write.parquet(s"$estate/v=2")
      VM.commit(spark, estate, 2, "v2")
      Seq((1L, "a"), (2L, "a")).toDF("k", "t").write.parquet(s"$estate/v=3")
      Streams.stageCommittedVersions(spark, estate, stage)
      q.processAllAvailable()
      assert(counts() == Map("a" -> 2L, "b" -> 1L), counts().toString)
      // re-staging is idempotent: nothing new arrives
      Streams.stageCommittedVersions(spark, estate, stage)
      q.processAllAvailable()
      assert(counts() == Map("a" -> 2L, "b" -> 1L), counts().toString)
    } finally q.stop()
  }

  test("statestore source reads dedup state; batchId option time-travels") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val ckpt = tempDir("graft_statespec")
    val q = input.toDF().toDF("fp").dropDuplicates("fp")
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    try {
      input.addData("a", "b", "a")
      q.processAllAvailable()
      input.addData("b", "c")
      q.processAllAvailable()
    } finally q.stop()
    // latest state = every distinct key ever seen
    val latest = spark.read.format("statestore").load(ckpt)
      .select(col("key.fp")).as[String].collect().sorted.toSeq
    assert(latest == Seq("a", "b", "c"), latest.toString)
    // time travel: after batch 0 the state holds only that batch's keys —
    // the checkpoint retains per-batch snapshots, so an audit can ask
    // "what had the gate seen as of any retained batch"
    val asOf0 = spark.read.format("statestore")
      .option("batchId", 0).load(ckpt)
      .select(col("key.fp")).as[String].collect().sorted.toSeq
    assert(asOf0 == Seq("a", "b"), asOf0.toString)
    // the operator inventory face: one dedupe operator at operatorId 0
    val meta = spark.read.format("state-metadata").load(ckpt)
      .select(col("operatorId"), col("operatorName")).collect()
    assert(meta.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "dedupe")), meta.mkString(", "))
  }

  test("multiple-watermark policy: min keeps the slow input's late rows, max drops them") {
    // two watermarked inputs unioned: the GLOBAL watermark is min(inputs)
    // by default — a slow input holds windows open so its late rows still
    // count — while policy=max advances with the fastest input and drops
    // them. No batch oracle can see this; the policy decides correctness
    // vs latency for every multi-source streaming union at scale.
    def run(policy: String): Map[Long, Long] = {
      withConf(spark, "spark.sql.streaming.multipleWatermarkPolicy" -> policy) { spark =>
        import spark.implicits._
        implicit val sc = spark.sqlContext
        val a = MemoryStream[Long]
        val b = MemoryStream[Long]
        def evs(m: MemoryStream[Long]) = m.toDS().toDF("secs")
          .select(timestamp_seconds(col("secs")).as("ts"))
          .withWatermark("ts", "0 seconds")
        val u = evs(a).unionByName(evs(b))
          .groupBy(window(col("ts"), "10 seconds").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").cast("long").as("wstart"), col("n"))
        val q = u.writeStream.format("memory").queryName(s"wmpol_$policy")
          .outputMode(OutputMode.Append()).start()
        try {
          a.addData(5L); b.addData(5L); q.processAllAvailable()
          a.addData(60L); q.processAllAvailable()   // a races ahead
          b.addData(7L); q.processAllAvailable()    // b's late row
          a.addData(120L); b.addData(120L); q.processAllAvailable()
          a.addData(200L); b.addData(200L); q.processAllAvailable()
          spark.table(s"wmpol_$policy").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        } finally q.stop()
      }
    }
    val mn = run("min")
    val mx = run("max")
    assert(mn.get(0L).contains(3L),
      s"min policy must keep the slow side's late row in [0,10): $mn")
    assert(mx.get(0L).contains(2L),
      s"max policy must have closed [0,10) early and dropped it: $mx")
  }

  test("q286 temporal enrichment join is STATELESS — only the tier rollup holds state") {
    // a stream-stream spelling of the same join would buffer events in a
    // state store; the stream-static broadcast join must leave only the
    // final aggregate's ≤4 tier rows behind
    val rows = graft.SparkEntry.queries("q286_stream_scd2_enrich")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val st = Streams.lastStateRows("q286_sink")
    assert(st <= 4, s"expected only the rollup's tier rows in state, got $st")
  }

  test("q325 stream-stream SCD2: dim arriving one file per batch enriches identically") {
    // the registered query: dim backfills in one wave
    val oneShot = graft.SparkEntry.queries("q325_stream_stream_scd2")(
      spark, sf0001).collect().toSeq
    assert(oneShot.nonEmpty)
    // replay with the dim rate-limited to ONE FILE PER MICRO-BATCH: events
    // buffered in join state must enrich against versions that only land
    // in later batches — batch-order independence is the stream-stream
    // guarantee the static-dim q286 never needed
    val dimDir = Streams.stageScd2Dim(spark, sf0001)
    val dim = spark.readStream.schema(Streams.scd2DimSchema)
      .option("maxFilesPerTrigger", 1).parquet(dimDir)
    val dripped = Streams.scd2StreamEnrich(spark, sf0001,
      Streams.streamEvents(spark, sf0001), dim, "q325_drip_sink")
      .collect().toSeq
    assert(dripped == oneShot, s"$dripped vs $oneShot")
    // and the multi-batch run really ran multiple batches' worth of dim
    // state: the join buffers held more than the final rollup's 4 rows
    assert(Streams.lastStateRows("q325_drip_sink") > 4)
  }

  test("q378 left-semi: one row per qualifying signup, fewer than pairs") {
    val got = graft.SparkEntry.queries("q378_stream_semi_join")(
      spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // batch replay of the same existence semantics
    val ev = graft.Tables.events(spark, sf0001)
    val signup = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val cond = col("user_id") === col("p_user") &&
      col("p_ts") >= col("s_ts") &&
      col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS")
    val batch = signup.join(purchase, cond, "left_semi")
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch, s"$got vs $batch")
    // existence, not pairs: the inner join emits at least as many rows
    val pairs = signup.join(purchase, cond, "inner").count()
    assert(got.values.sum <= pairs)
  }

  test("a listener on the session sees q93's and q252's batches; q93's state runs at the scoped count") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    /** The progress events of `q`'s streams, once the first one arrives. */
    def batchesOf(q: String): Seq[StreamingQueryProgress] = {
      progress.clear()
      graft.SparkEntry.queries(q)(spark, sf0001).count()
      val deadline = System.currentTimeMillis + 30000
      while (progress.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
      progress.toArray(Array.empty[StreamingQueryProgress]).toSeq
    }
    spark.streams.addListener(listener)
    try {
      val q93 = batchesOf("q93_stream_stateful")
      assert(q93.nonEmpty, "the session's listener saw no q93 batch")
      val parts = graft.GraftSession.inputParts(spark, s"$sf0001/events.parquet", 1)
      assert(parts.toString != spark.conf.get("spark.sql.shuffle.partitions"),
        "the fixture cannot tell the scoped count from the session's")
      val stateParts = q93.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numShufflePartitions).distinct
      assert(stateParts == Seq(parts.toLong), s"q93's state partitions: $stateParts")
      assert(batchesOf("q252_stream_versioned_ingest").nonEmpty,
        "the session's listener saw no q252 batch")
    } finally spark.streams.removeListener(listener)
  }

  test("a file-sink feed of a versioned table reads under the table's schema with no job") {
    withConf(spark) { s =>
      val (table, _) = Streams.ingestVersioned(s, sf0001, "sinkspec")
      val dir = tempDir("graft_sinkspec")
      s.readStream.table(table).writeStream.format("parquet")
        .option("path", s"$dir/sink").option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      val schema = s.table(table).schema
      val (read, jobs) = jobsDuring(graft.Tables.sink(s, s"$dir/sink", schema))
      assert(jobs === 0, s"the sink read launched $jobs jobs")
      val (inferred, inferJobs) = jobsDuring(graft.Tables.parquet(s, s"$dir/sink"))
      assert(inferJobs > 0, "a schema-less sink read no longer infers in a job")
      assert(read.schema === inferred.schema)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(read).nonEmpty)
      assert(rows(read) === rows(inferred))
    }
  }
}
