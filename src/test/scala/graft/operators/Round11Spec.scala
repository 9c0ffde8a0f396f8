package graft.operators

import graft.{SparkEntry, SparkSpec, StagingDirs}
import graft.GraftSession.{rebind, withConf}
import org.apache.spark.sql.functions._

/** Round-11 contracts: the ADVICE regression pins (guarded range-join
  * generator, MV/RI scan identity) plus this round's new machinery.
  */
class Round11Spec extends SparkSpec {

  // ---------------------------------------------------- ADVICE regressions

  test("range-join rewrite survives inverted (lo > hi) intervals") {
    // sequence(start, stop, 1) throws when start > stop — before the
    // guard, ONE inverted interval row crashed the whole rewritten query
    val key = "spark.graft.rangejoin.bin"
    def run(w: String) =
      withConf(spark, key -> w) { spark =>
        val iv = spark.range(10).select(col("id").as("iv_id"),
          // every third interval inverted, spanning >1 bin at w=3600
          expr("CASE WHEN id % 3 = 0 THEN id * 10000 + 7200 " +
            "ELSE id * 10000 END").as("lo"),
          expr("CASE WHEN id % 3 = 0 THEN id * 10000 " +
            "ELSE id * 10000 + 7200 END").as("hi"))
        val pts = spark.range(100).select(col("id").as("p_id"),
          (col("id") * 1000).as("p"))
        val df = pts
          .join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
          .select(col("p_id"), col("iv_id"))
          .orderBy(col("p_id"), col("iv_id"))
        (df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
    val (off, rowsOff) = run("0")
    assert(off.contains("NestedLoopJoin"), off)
    val (on, rowsOn) = run("3600")
    assert(!on.contains("NestedLoopJoin") && on.contains("HashJoin"),
      s"inverted-interval input stopped the rewrite:\n$on")
    // inverted intervals match nothing on either path — and crash neither
    assert(rowsOn == rowsOff, s"$rowsOn vs $rowsOff")
    assert(rowsOff.nonEmpty)
  }

  test("MV rewrite refuses a column-superset DECOY scan (path identity)") {
    ScalePatterns.mvLayout(spark, sf0001)
    // a lineitem-DERIVED parquet: same columns, different data — a
    // name-subset identity test would silently retarget its rollup to
    // the full-table MV and return wrong numbers
    val decoyPath = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_decoy_" +
      spark.sparkContext.applicationId)
    graft.Tables.lineitem(spark, sf0001).filter(col("l_quantity") > 25)
      .write.mode("overwrite").parquet(decoyPath)
    def rollup() = spark.read.parquet(decoyPath)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
    val offRows = rollup().collect().toSeq
    val (planOn, onRows) = withConf(spark, "spark.graft.mv.rewrite" -> "true") { spark =>
      val q = rebind(spark, rollup())
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    assert(!planOn.contains("graft_mv"),
      s"decoy scan was retargeted to the MV:\n$planOn")
    assert(onRows == offRows, s"$onRows vs $offRows")
  }

  test("MV rewrite refuses a GLOBAL aggregate (empty-input count edge)") {
    ScalePatterns.mvLayout(spark, sf0001)
    // count(*) with no groupings returns 0 over an empty base but
    // sum(cnt) over an empty MV returns NULL — the rewrite must leave
    // global aggregates alone
    def total() = graft.Tables.lineitem(spark, sf0001)
      .agg(count(lit(1)).as("n_rows"))
    val (planOn, onRows) = withConf(spark, "spark.graft.mv.rewrite" -> "true") { spark =>
      val q = rebind(spark, total())
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    assert(!planOn.contains("graft_mv"),
      s"global aggregate was retargeted to the MV:\n$planOn")
    assert(onRows == total().collect().toSeq)
  }

  test("q329 manifest stats prune a strict subset; an unstatted version refuses") {
    SparkEntry.queries("q329_stats_in_manifest")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vstats_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val pruned = graft.sources.VersionedManifest
      .prunedFiles(spark, dir, 1, 100L, 299L)
    val all = graft.sources.VersionedManifest.readAt(spark, dir, 1)
      .inputFiles.length
    assert(pruned.nonEmpty && pruned.size < all,
      s"pruning did nothing: ${pruned.size} of $all")
    // pruned read ≡ full read under the same predicate
    val full = graft.sources.VersionedManifest.readAt(spark, dir, 1)
      .filter(col("doc_id").between(100, 299)).count()
    val viaPrune = spark.read.parquet(pruned: _*)
      .filter(col("doc_id").between(100, 299)).count()
    assert(viaPrune == full)
    // a version without stats= lines must REFUSE, not silently full-scan
    val bare = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_nostats_" +
      spark.sparkContext.applicationId)
    spark.range(10).toDF("doc_id").write.mode("overwrite").parquet(s"$bare/v=1")
    graft.sources.VersionedManifest.commit(spark, bare, 1, "no stats")
    intercept[IllegalArgumentException](
      graft.sources.VersionedManifest.prunedFiles(spark, bare, 1, 0L, 5L))
  }

  test("q335 bloom lines answer point lookups from a strict file subset; no false negatives; stats-only refuses") {
    assert(SparkEntry.queries("q335_bloom_skipping")(spark, sf0001).collect().nonEmpty)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vbloom_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val table = graft.sources.VersionedManifest.readAt(spark, dir, 1)
    val probe = table.filter(col("doc_id") === 250).head().getAs[String]("text")
    val admitted = graft.sources.VersionedManifest
      .bloomPrunedFiles(spark, dir, 1, probe)
    val all = table.inputFiles.length
    assert(admitted.nonEmpty && admitted.size < all,
      s"bloom admitted ${admitted.size} of $all files")
    // no false negatives: the admitted files hold EVERY occurrence
    val holders = table.filter(col("text") === probe).count()
    val viaBloom = spark.read.parquet(admitted: _*)
      .filter(col("text") === probe).count()
    assert(viaBloom == holders && holders >= 1)
    // an absent key may false-positive a few files but never yields rows
    val ghost = graft.sources.VersionedManifest
      .bloomPrunedFiles(spark, dir, 1, "no such text anywhere")
    assert(ghost.size < all)
    if (ghost.nonEmpty)
      assert(spark.read.parquet(ghost: _*)
        .filter(col("text") === "no such text anywhere").isEmpty)
    // a version committed with stats but NO bloom lines must refuse
    val bare = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_nobloom_" +
      spark.sparkContext.applicationId)
    spark.range(10).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.mode("overwrite").parquet(s"$bare/v=1")
    graft.sources.VersionedManifest.commit(spark, bare, 1,
      graft.sources.VersionedManifest.fileStats(spark, s"$bare/v=1", "doc_id")
        .mkString("\n"))
    intercept[IllegalArgumentException](
      graft.sources.VersionedManifest.bloomPrunedFiles(spark, bare, 1, "5"))
  }

  test("q336 strips only cross-document blocks and broadcasts the boilerplate set") {
    val q = SparkEntry.queries("q336_boilerplate_strip")(spark, sf0001)
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the boilerplate set should broadcast back onto the block stream")
    val out = q.collect()
    assert(out.nonEmpty)
    val toks = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
    val joined = q.join(toks, "doc_id").collect()
    joined.foreach { r =>
      val (nb, nr, kept, nt) = (r.getAs[Long]("n_blocks"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("kept_tokens"),
        r.getAs[Int]("n_toks").toLong)
      assert(nb == (nt + 7) / 8, s"doc ${r.get(0)}: $nb blocks for $nt tokens")
      assert(nr >= 1 && nr <= nb)
      assert(kept < nt, s"doc ${r.get(0)} removed blocks but kept all tokens")
    }
  }

  test("q337 canonical URLs absorb all six noise dimensions and lose no fetch") {
    val out = SparkEntry.queries("q337_url_canonical_dedup")(spark, sf0001)
      .collect()
    val events = graft.Tables.events(spark, sf0001).count()
    assert(out.map(_.getAs[Long]("n_fetches")).sum == events,
      "canonicalization must partition the fetch log, not drop or dup rows")
    assert(out.exists(_.getAs[Long]("n_raw_variants") > 1),
      "no raw variants collapsed - the canonicalizer did nothing")
    out.map(_.getAs[String]("canon")).foreach { c =>
      assert(!c.contains("#") && !c.contains("utm_") && !c.contains(":443") &&
        c == c.toLowerCase && !c.takeWhile(_ != '?').endsWith("/"), c)
    }
  }

  test("q339 release tags: immutable, never dangling, unknown tag refuses in SQL") {
    SparkEntry.queries("q339_release_tags")(spark, sf0001).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_vtags_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    assert(M.refs(spark, dir) == Map("release-a" -> 1L, "release-b" -> 2L))
    // a tag can never dangle: tagging an uncommitted version refuses
    intercept[IllegalStateException](M.tag(spark, dir, "release-c", 99L))
    assert(M.resolveRef(spark, dir, "release-c").isEmpty)
    // tags are immutable: re-tagging an existing name refuses
    intercept[IllegalStateException](M.tag(spark, dir, "release-a", 2L))
    assert(M.resolveRef(spark, dir, "release-a").contains(1L))
    // a name that is neither numeric nor a known tag refuses in SQL
    val cat = graft.sources.VersionedCatalog.mount(spark, "g339spec", root)
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.tables.corpus VERSION AS OF 'release-zz'").collect())
    assert(e.getMessage.contains("neither a numeric version, a tag, nor a branch"),
      e.getMessage)
    // numeric ids keep working unchanged alongside tags
    assert(spark.sql(s"SELECT count(*) FROM $cat.tables.corpus VERSION AS OF 1")
      .head().getLong(0) ==
      spark.sql(s"SELECT count(*) FROM $cat.tables.corpus " +
        "VERSION AS OF 'release-a'").head().getLong(0))
  }

  test("q340 masks ~14% of tokens in 3-token spans, deterministically") {
    val out = SparkEntry.queries("q340_span_corruption")(spark, sf0001).collect()
    val (tok, masked) = (out.map(_.getAs[Long]("n_tokens")).sum,
      out.map(_.getAs[Long]("n_masked")).sum)
    val ratio = masked.toDouble / tok
    assert(ratio > 0.10 && ratio < 0.18,
      f"corpus corruption ratio $ratio%.3f is off the mod-7 expectation")
    out.foreach { r =>
      val (m, sp) = (r.getAs[Long]("n_masked"), r.getAs[Long]("n_spans"))
      assert(m <= sp * 3 && (sp == 0 || m >= sp),
        s"doc ${r.get(0)}: $m masked in $sp spans breaks the 3-token bound")
    }
    // seed-free: a rerun masks identically (no RNG state anywhere)
    val again = SparkEntry.queries("q340_span_corruption")(spark, sf0001).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q341 schedules the politeness recurrence in ONE host-keyed exchange") {
    val q = SparkEntry.queries("q341_politeness_schedule")(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"the rewrite should need exactly one host shuffle, saw $exchanges:\n$plan")
    // the rewritten window solves slot_i = max(ts_i, slot_(i-1) + D):
    // slots are >= arrivals and successive same-host slots differ >= D
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("total_wait_s") >= 0L))
    assert(rows.exists(_.getAs[Long]("total_wait_s") > 0L),
      "no host ever waited - gap too small to exercise the recurrence")
    rows.foreach(r => assert(r.getAs[Long]("drain_tail_us") >= 0L))
    // cross-check the algebraic rewrite against the LITERAL recurrence,
    // folded driver-side over one host's arrival times
    val d = 14400000000L
    val ts = graft.Tables.events(spark, sf0001)
      .filter(col("user_id") % 20 === 0)
      .select(unix_micros(col("ts")).as("t"), col("event_id"))
      .orderBy(col("t"), col("event_id"))
      .collect().map(_.getLong(0))
    val (wait, _) = ts.foldLeft((0L, Long.MinValue)) {
      case ((w, prev), t) =>
        val slot = math.max(t, if (prev == Long.MinValue) t else prev + d)
        (w + (slot - t) / 1000000L, slot)
    }
    val h0 = rows.find(_.getAs[String]("host") == "h0").get
    assert(h0.getAs[Long]("total_wait_s") == wait,
      s"window rewrite ${h0.getAs[Long]("total_wait_s")} != literal fold $wait")
  }

  test("q342 kappa algebra replays from the confusion counts alone") {
    val rows = SparkEntry.queries("q342_label_agreement")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, n11, n10, n01, n00) = (r.getAs[Long]("n"), r.getAs[Long]("n11"),
        r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"))
      assert(n == n11 + n10 + n01 + n00, s"confusion matrix does not sum: $r")
      val po = (n11 + n00) * 1000000L / n
      val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) *
        1000000L / (n * n)
      assert(r.getAs[Long]("po_ppm") == po && r.getAs[Long]("pe_ppm") == pe)
      if (pe != 1000000L) {
        val k = if (po >= pe) (po - pe) * 1000000L / (1000000L - pe)
          else -((pe - po) * 1000000L / (1000000L - pe))
        assert(r.getAs[Long]("kappa_ppm") == k, s"kappa drifted: $r vs $k")
        assert(math.abs(k) <= 1000000L)
      }
    }
  }

  test("q343 assembles preference pairs without a window or per-group sort") {
    val q = SparkEntry.queries("q343_preference_pairs")(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"chosen/rejected should be max/min aggregates, not windows:\n$plan")
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("margin") > 0.0)
      assert(r.getAs[Long]("chosen_event") != r.getAs[Long]("rejected_event"))
      assert(r.getAs[Long]("n_candidates") >= 2L)
    }
  }

  test("q344 cluster rewrite: hash layout prunes nothing, the range rewrite prunes hard") {
    SparkEntry.queries("q344_cluster_rewrite")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vcluster_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val M = graft.sources.VersionedManifest
    val before = M.prunedFiles(spark, dir, 1, 300L, 499L)
    val after = M.prunedFiles(spark, dir, 2, 300L, 499L)
    val allV1 = M.readAt(spark, dir, 1).inputFiles.length
    val allV2 = M.readAt(spark, dir, 2).inputFiles.length
    // layouts have different file counts — compare admitted FRACTIONS:
    // the interleaved hash layout admits nearly everything, the range
    // rewrite admits only the slice
    assert(before.size * 4 >= allV1 * 3,
      s"hash layout should admit nearly every file: ${before.size} of $allV1")
    assert(after.nonEmpty && after.size * 2 <= allV2,
      s"clustering bought nothing: ${after.size} of $allV2 admitted")
    // same rows before and after — the rewrite is layout-only
    assert(M.readAt(spark, dir, 1).count() == M.readAt(spark, dir, 2).count())
    // dataChange=false: subscribers must skip the rewrite version
    assert(!M.dataChange(spark, dir, 2) && M.dataChange(spark, dir, 1))
  }

  // ------------------------------------------------- round-11d additions

  test("q345: PII detector finds exactly the planted set and redacts it clean") {
    val rows = SparkEntry.queries("q345_pii_scan")(spark, sf0001).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    // recall: every planted doc is reported with exactly its planted types
    (0L until nDocs).foreach { id =>
      val (e, ip, ph) = (id % 3 == 0, id % 4 == 1, id % 5 == 2)
      if (e || ip || ph) {
        val r = byId.getOrElse(id, fail(s"doc $id planted but not reported"))
        assert((r.getLong(1) == 1) == e, s"doc $id email count ${r.getLong(1)}")
        assert((r.getLong(2) == 1) == ip, s"doc $id ip count ${r.getLong(2)}")
        assert((r.getLong(3) == 1) == ph, s"doc $id phone count ${r.getLong(3)}")
      } else assert(!byId.contains(id), s"doc $id false positive")
    }
    // redaction completeness: rebuild the redacted text with the query's own
    // regex order and assert a re-scan finds nothing
    val residual = graft.Tables.documents(spark, sf0001)
      .selectExpr("doc_id",
        """regexp_replace(regexp_replace(regexp_replace(concat(text,
          |  CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', doc_id,
          |    '@mail', doc_id % 10, '.org') ELSE '' END,
          |  CASE WHEN doc_id % 4 = 1 THEN concat(' host 10.', doc_id % 256,
          |    '.', (doc_id * 7) % 256, '.', doc_id % 250) ELSE '' END,
          |  CASE WHEN doc_id % 5 = 2 THEN concat(' call 555-',
          |    lpad(doc_id % 1000, 3, '0'), '-',
          |    lpad((doc_id * 3) % 10000, 4, '0')) ELSE '' END),
          |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
          |  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>'),
          |  '\\b555-\\d{3}-\\d{4}\\b', '<PHONE>') AS red""".stripMargin)
      .filter(expr(
        """red rlike '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
          | or red rlike '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'
          | or red rlike '\\b555-\\d{3}-\\d{4}\\b'""".stripMargin
          .replaceAll("\n", "")))
      .count()
    assert(residual == 0, s"$residual docs still match a PII regex after redaction")
  }

  test("q346: transcript assembly is partition-order-proof and caps at 16 turns") {
    val df = SparkEntry.queries("q346_chat_assembly")(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) <= 16),
      "a conversation rendered more than 16 turns")
    // determinism under aggregation order: the same assembly over a
    // 1-partition and a 64-partition shuffle must hash identically
    val one = withConf(spark, "spark.sql.shuffle.partitions" -> "1") { spark =>
      SparkEntry.queries("q346_chat_assembly")(spark, sf0001).collect()
    }
    assert(one.map(_.toString).toSeq == rows.map(_.toString).toSeq,
      "transcript hash depends on partial-aggregation order")
    // accounting closes: per-role chars sum to the rendered turns' content
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) > 0, s"conv ${r.getLong(0)} empty")
    }
  }

  test("q347: anchors broadcast (pool never shuffles) and top-1 dominates its neighborhood mean") {
    val df = SparkEntry.queries("q347_bitext_margin")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"anchor side is not broadcast:\n$plan")
    df.collect().foreach { r =>
      val (cos, margin, mined) = (r.getDouble(2), r.getDouble(3), r.getLong(4))
      // ratio margin of the TOP-1 against a mean including itself: bounded
      assert(margin > 0 && margin < 4, s"degenerate margin $margin")
      assert((mined == 1) == (margin > 1.10), "mined flag drifted from threshold")
      assert(cos <= 1.0000001 && cos >= -1.0000001, s"cos out of range $cos")
    }
  }

  test("q348: the rewrite moved the physical layout; row identity did not move") {
    val rows = SparkEntry.queries("q348_row_tracking")(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"${r.getString(0)}: payload drifted")
      assert(r.getLong(3) == 0 && r.getLong(4) == 0,
        s"${r.getString(0)}: ids lost/invented")
    }
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vrowtrack_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val M = graft.sources.VersionedManifest
    // the audit must not be vacuous: v2's files are a different set
    val f1 = M.readAt(spark, dir, 1).inputFiles.toSet
    val f2 = M.readAt(spark, dir, 2).inputFiles.toSet
    assert(f1.intersect(f2).isEmpty, "rewrite did not move the layout")
    assert(!M.dataChange(spark, dir, 2), "rewrite must publish dataChange=false")
  }

  test("q349: branch CAS refuses stale advances, dangling targets, and re-creates") {
    SparkEntry.queries("q349_branch_publish")(spark, sf0001).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_vbranch_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    // main fast-forwarded 1 -> 3 and NEVER pointed at the rejected v2
    assert(M.branchLog(spark, dir, "main").map(_._2) == Seq(1L, 3L))
    assert(M.branchLog(spark, dir, "exp").map(_._2) == Seq(1L, 2L, 3L))
    // stale CAS: head is seq 1, an advance expecting seq 0 must lose
    assert(!M.advanceBranch(spark, dir, "main", 0, 1),
      "stale-seq advance should return false")
    assert(M.branchHead(spark, dir, "main").contains((1L, 3L)))
    // a branch can never dangle
    intercept[IllegalStateException] {
      M.advanceBranch(spark, dir, "exp", 2, 99)
    }
    intercept[IllegalStateException] { M.createBranch(spark, dir, "main", 1) }
    intercept[IllegalStateException] {
      M.advanceBranch(spark, dir, "nosuch", 0, 1)
    }
  }

  test("q350: rate card broadcasts and the blast radius is exactly the restated cell") {
    val df = SparkEntry.queries("q350_bitemporal_asof")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"rate card is not broadcast:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty, "restatement hit no orders — fixture drift")
    rows.foreach { r =>
      assert(r.getLong(2) == 2, s"order outside region 2: $r")
      assert(r.getLong(4) - r.getLong(3) == 55, s"wrong restatement delta: $r")
      val ts = r.get(1).toString // TIMESTAMP_NTZ surfaces as LocalDateTime
      assert(ts >= "1997-03-15" && ts < "1998-03-15",
        s"order outside the restated valid window: $ts")
    }
  }

  test("q352: centroids broadcast; every held-out vector is classified exactly once") {
    val df = SparkEntry.queries("q352_centroid_classifier")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"centroid table is not broadcast:\n$plan")
    val classified = df.collect().map(_.getLong(2)).sum
    val held = graft.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 5 === 0).count()
    assert(classified == held,
      s"$classified classified vs $held held out — argmin dropped or doubled rows")
  }

  test("q353: the salt plan bounds the heaviest reducer slice") {
    val rows = SparkEntry.queries("q353_salted_agg_plan")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, salt, slices, maxSlice) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(salt >= (n * 32 + 9999) / 10000 || salt == 1,
        s"plan under-salted: $r")
      assert(slices <= salt, s"more slices than salts: $r")
      // the md5 slot spreads within 3x of perfectly even — the bound a
      // reducer actually sees is O(n/salt), not O(n)
      assert(maxSlice * salt <= n * 3, s"slice bound blown: $r")
      assert(salt == 1 || maxSlice < n, s"salting did not split the key: $r")
    }
  }

  test("q354: tags shadow branches on a name clash; unknown names refuse") {
    SparkEntry.queries("q354_sql_branch_read")(spark, sf0001).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_vsqlbr_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    // a TAG named like the branch, pinned at v1 while the branch head is 2:
    // the immutable citation must win
    M.createBranch(spark, dir, "clash", 2)
    M.tag(spark, dir, "clash", 1)
    val cat = graft.sources.VersionedCatalog.mount(spark, "g354spec", root)
    val viaName = spark.sql(
      s"SELECT COUNT(*) AS n FROM $cat.tables.corpus VERSION AS OF 'clash'")
      .head().getLong(0)
    assert(viaName == M.readAt(spark, dir, 1).count(),
      "the mutable branch shadowed the immutable tag")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tables.corpus VERSION AS OF 'nosuch'")
        .collect()
    }
    assert(e.getMessage.contains("nosuch") || e.getMessage.contains("branch"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("q355: expiry refuses expired time travel, keeps ref-pinned history, reclaims only unreachable dirs") {
    SparkEntry.queries("q355_snapshot_expiry")(spark, sf0001).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_vexpire_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val dir = s"$root/corpus"
    val M = graft.sources.VersionedManifest
    // expired versions refuse exactly like uncommitted ones
    intercept[IllegalStateException] { M.readAt(spark, dir, 1) }
    intercept[IllegalStateException] { M.readAt(spark, dir, 3) }
    intercept[IllegalStateException] { M.readAt(spark, dir, 4) }
    // the tagged release and the head survive
    assert(M.readAt(spark, dir, 2).count() > 0)
    assert(M.readAt(spark, dir, 5).count() > M.readAt(spark, dir, 2).count())
    // reclaim exactly the unreachable dirs: tagged v2 still needs b1/b2,
    // the compacted head needs d-compact; b3/b4 became garbage
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    assert(exists(s"$dir/d-b1") && exists(s"$dir/d-b2") && exists(s"$dir/d-compact"))
    assert(!exists(s"$dir/d-b3") && !exists(s"$dir/d-b4"),
      "unreachable append dirs survived expiry")
  }

  test("q356: aHash is brightness-invariant yet separates genuinely different images") {
    val rows = SparkEntry.queries("q356_phash_dedup")(spark, sf0001).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getLong(5) <= 2 && r.getLong(6) == 1L,
        s"brightness twin drifted past the radius: $r")
      assert(r.getLong(7) == 0L, s"byte dedup matched different PNGs: $r")
    }
    // negative control: half-blanking the image must flip MANY bits —
    // the detector separates, it doesn't just say yes
    val id = 7L
    val (w, h) = Multimodal.fixtureDims(id)
    val a = Multimodal.aHashImage(
      MediaRecord(id, Multimodal.encodePng(id, w, h), "a", (w * h).toLong))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (y < h / 2) 0 else Multimodal.pixel(id, x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val c = Multimodal.aHashImage(
      MediaRecord(id, bos.toByteArray, "c", (w * h).toLong))
    assert(java.lang.Long.bitCount(a.ahash ^ c.ahash) > 2,
      s"half-blanked image stayed within the near-dup radius: " +
        s"${a.ahash} vs ${c.ahash}")
  }

  test("q357: down-weighting conserves the weight budget per cluster") {
    val rows = SparkEntry.queries("q357_soft_dedup_weights")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val (docs, members, eff) = rows.foldLeft((0L, 0L, 0L)) { (acc, r) =>
      (acc._1 + r.getLong(1), acc._2 + r.getLong(2), acc._3 + r.getLong(3))
    }
    assert(members > 0, "fixture has no near-dup members — nothing tested")
    // every clustered member weighs < 1 doc; singletons weigh exactly 1
    assert(eff < docs * 1000000L, "down-weighting changed nothing")
    // a cluster's members sum to ~1 doc (ppm truncation loses < sz ppm):
    // corpus-wide, effective >= singletons + one doc per cluster - slack
    assert(eff > (docs - members) * 1000000L,
      "clustered docs lost more than their whole weight")
  }

  test("q358: estate procedures are listed and refuse duplicates through SQL") {
    SparkEntry.queries("q358_sql_estate_procs")(spark, sf0001).collect()
    val cat = graft.sources.VersionedCatalog.mount(spark, "g358spec",
      StagingDirs.dir(spark, "vsqlproc", sf0001))
    val procRows = spark.sql(s"SHOW PROCEDURES IN $cat.sys").collect()
    val procs = procRows
      .map(r => r.get(r.length - 1).toString).sorted.toSeq
    assert(procs == Seq("create_branch", "expire_snapshots", "fast_forward",
      "merge", "rollback", "update"), s"procedure roster drifted: $procs")
    // duplicate branch creation refuses through the SQL surface too
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.create_branch('corpus', 'main', 3)").collect()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // expiring everything refuses: keep_last >= 1
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.expire_snapshots('corpus', 0)").collect()
    }
    assert(e2.getMessage.contains("keep_last") ||
      e2.getMessage.contains("keepLast"), e2.getMessage)
  }

  test("q359: two-stage serving keeps k=5 and bounded recall; queries broadcast") {
    val df = SparkEntry.queries("q359_truncated_rerank")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query slice is not broadcast:\n$plan")
    val rows = df.collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(2) == 5, s"ground truth lost rows: $r")
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 5, s"recall out of range: $r")
    }
    // on iid-random synthetic embeddings an 8/64 prefix carries ~1/8 of
    // the signal, so LOW recall is the honest measurement (real
    // Matryoshka-trained embeddings front-load variance — q319's point).
    // Pin non-degeneracy both ways: the audit sees hits AND misses.
    val total = rows.map(_.getLong(1)).sum
    assert(total >= 1, "shortlist never recalled anything — wiring broken")
    assert(total < 50, "perfect recall on random data — ground truth leaked")
  }

  test("q360: both lateness contracts survive into the analyzed plan") {
    val u = graft.streaming.Streams.unionLagged(spark, sf0001)
    val analyzed = u.queryExecution.analyzed.toString
    val wmarks = "EventTimeWatermark".r.findAllIn(analyzed).size
    assert(wmarks == 2, s"expected two watermark nodes, got $wmarks:\n$analyzed")
    assert(analyzed.contains("30 minutes") && analyzed.contains("2 hours"),
      s"per-leg delays collapsed:\n$analyzed")
  }

  test("q362: named-parameter bindings reach the parquet scan as pushed filters") {
    val df = SparkEntry.queries("q362_parameterized_sql")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(n_chars,120)") ||
        plan.contains("120")),
      s"bound parameter did not push into the scan:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("q361: Bradley-Terry ratings order consistently with the win matrix") {
    val rows = SparkEntry.queries("q361_bradley_terry")(spark, sf0001).collect()
    assert(rows.length == 5)
    // MM iterations preserve the dominance structure: the top-rated item
    // must not have strictly fewer wins than the bottom-rated one
    val byRank = rows.sortBy(_.getLong(4))
    assert(byRank.head.getLong(1) >= byRank.last.getLong(1),
      s"rating inverted the win counts: ${byRank.map(_.toString).mkString(", ")}")
    rows.foreach { r =>
      assert(r.getDouble(3) > 0, s"non-positive BT rating: $r")
      assert(r.getLong(2) >= r.getLong(1), s"more wins than games: $r")
    }
  }

  test("RI elimination refuses an UNREGISTERED same-shape dimension (path identity)") {
    // q281 audits + declares constraints for $d/orders.parquet
    SparkEntry.queries("q281_join_elimination")(spark, sf0001).collect()
    // a FILTERED copy of orders at a different path: identical columns,
    // fewer rows — eliminating this join would be wrong (and a name-based
    // dim match would do exactly that)
    val decoyPath = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_dimdecoy_" +
      spark.sparkContext.applicationId)
    graft.Tables.orders(spark, sf0001).filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(decoyPath)
    def narrowed() = {
      val li = graft.Tables.lineitem(spark, sf0001)
      val o = spark.read.parquet(decoyPath)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag"))
    }
    val offRows = narrowed().collect().toSeq
    val (planOn, onRows) = withConf(spark, "spark.graft.ri.eliminate" -> "true") { spark =>
      val q = rebind(spark, narrowed())
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    assert(planOn.contains("graft_r11_dimdecoy"),
      s"join to the unregistered dimension was dropped:\n$planOn")
    assert(onRows == offRows, s"$onRows vs $offRows")
  }

  // ------------------------------------------------- q363 constraints

  test("q363: declared constraints persist, enforce, and refuse (CHECK-NULL passes)") {
    import graft.sources.{VersionedManifest => M}
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_constr_" +
      spark.sparkContext.applicationId)
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    M.commit(spark, dir, 1, "base")
    // activation is a metadata-only version: same snapshot, rule stored
    assert(M.addConstraint(spark, dir, "v_pos", "v > 0") == Right(2L))
    assert(!M.dataChange(spark, dir, 2))
    assert(M.readAt(spark, dir, 2).count() == 2)
    assert(M.constraints(spark, dir) == Seq("v_pos" -> "v > 0"))
    // ALTER validates history: a violated predicate publishes NOTHING
    assert(M.addConstraint(spark, dir, "v_small", "v < 15") == Left(1L))
    assert(M.latestCommitted(spark, dir).contains(2L))
    // SQL CHECK semantics: UNKNOWN (null) passes, FALSE refuses
    Seq((3L, Some(30L)), (4L, None)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/v=3")
    assert(M.commitConstrained(spark, dir, 3, "append with null").isEmpty,
      "a NULL predicate must pass CHECK")
    assert(M.readLatest(spark, dir).count() == 4)
    // a violating batch: refused, no manifest, dir is a vacuumable orphan
    Seq((5L, -1L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/v=4")
    val refusal = M.commitConstrained(spark, dir, 4, "bad append")
    assert(refusal == Seq("constraint v_pos violated by 1 staged rows"))
    assert(M.latestCommitted(spark, dir).contains(3L))
    assert(M.constraintsAt(spark, dir, 3) == Seq("v_pos" -> "v > 0"),
      "constraints must ride every published manifest forward")
    // the refused version's data never became visible
    assert(M.readLatest(spark, dir).filter(col("v") < 0).count() == 0)
  }

  // ------------------------------------------------- q364 SQ8 serving

  test("q364: int8 codes are bounded, saturate at the argmax dim, and the query slice broadcasts") {
    // the quantizer contract: |c| ≤ 127 everywhere, = 127 where |v| = scale
    val code = "transform(v, x -> IF(x >= 0, (x * 254 + scale) div (2 * scale), " +
      "-(((-x) * 254 + scale) div (2 * scale))))"
    val coded = graft.Tables.embeddings(spark, sf0001)
      .select(expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("scale") > 0)
      .withColumn("c", expr(code))
      .select(expr("array_max(transform(c, x -> abs(x)))").as("cmax"))
      .agg(min(col("cmax")).as("lo"), max(col("cmax")).as("hi"))
      .head()
    assert(coded.getLong(0) == 127L && coded.getLong(1) == 127L,
      s"every vector must saturate exactly at 127, got $coded")
    // serving plan: the 10-query slice broadcasts; the corpus streams
    val df = SparkEntry.queries("q364_sq8_recall")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query slice must broadcast against the streamed corpus:\n$plan")
    val rows = df.collect()
    assert(rows.length == 10 && rows.forall(r =>
      r.getLong(2) == 5L && r.getLong(1) >= 0L && r.getLong(1) <= 5L))
  }

  // ------------------------------------------------- q366 COW merge

  test("q366: merge rewrites only affected dirs, keeps time travel, refuses dup keys") {
    import graft.sources.{VersionedManifest => M}
    import spark.implicits._
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_merge_" +
      spark.sparkContext.applicationId)
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(s"$dir/d-x")
    M.commit(spark, dir, 1, "data=d-x\nbase")
    Seq((3L, "c", 30L)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(s"$dir/d-y")
    M.commit(spark, dir, 2, "data=d-x\ndata=d-y\nappend")
    def listing(sub: String) = {
      val p = java.nio.file.Paths.get(dir, sub)
      java.nio.file.Files.list(p).toArray.map(_.toString).sorted.toSeq
        .map(f => (f, java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(f)).toMillis))
    }
    val dyBefore = listing("d-y")
    // update id=1 (lives in d-x), insert id=9
    val src = Seq((1L, "a2", 11L), (9L, "z", 90L)).toDF("id", "s", "v")
    val (v, affected, untouched) = M.merge(spark, dir, src, "id")
    assert(v == 3L)
    assert(affected.map(p => p.split("/").last) == Seq("d-x"))
    assert(untouched.map(p => p.split("/").last) == Seq("d-y"))
    // the untouched dir's bytes never moved
    assert(listing("d-y") == dyBefore, "d-y must not be rewritten")
    // final state: upsert applied, kept row survives
    val got = M.readLatest(spark, dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a2", 11L), (2L, "b", 20L), (3L, "c", 30L),
      (9L, "z", 90L)), got.toString)
    // time travel: the pre-merge snapshot is intact
    assert(M.readAt(spark, dir, 2).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // duplicate source keys refuse before any write
    val dup = Seq((5L, "d", 1L), (5L, "d", 2L)).toDF("id", "s", "v")
    intercept[IllegalArgumentException] { M.merge(spark, dir, dup, "id") }
    assert(M.latestCommitted(spark, dir).contains(3L))
    // insert-only merge: no dir affected, everything re-addressed
    val ins = Seq((100L, "n", 1L)).toDF("id", "s", "v")
    val (v2, aff2, unt2) = M.merge(spark, dir, ins, "id")
    assert(v2 == 4L && aff2.isEmpty && unt2.size == 2)
    assert(M.readLatest(spark, dir).count() == 5)
  }

  test("q367: LWW merge is commutative — batch order never changes the table") {
    import graft.sources.{VersionedManifest => M}
    import spark.implicits._
    def estate(tag: String): String = {
      val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_lww_${tag}_" +
        spark.sparkContext.applicationId)
      Seq((1L, 10L, "old1"), (2L, 10L, "old2")).toDF("k", "ts", "v")
        .write.mode("overwrite").parquet(s"$dir/v=1")
      M.commit(spark, dir, 1, "base")
      dir
    }
    // batch A carries the NEWEST row for k=1; batch B an older one + k=3;
    // B also holds an in-batch duplicate for k=3 that must fold first
    val a = Seq((1L, 20L, "newest")).toDF("k", "ts", "v")
    val b = Seq((1L, 15L, "stale"), (3L, 5L, "late3"), (3L, 7L, "best3"))
      .toDF("k", "ts", "v")
    def read(dir: String) = M.readLatest(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val d1 = estate("ab")
    M.mergeLww(spark, d1, a, "k", Seq("ts"), "epoch=0")
    M.mergeLww(spark, d1, b, "k", Seq("ts"), "epoch=1")
    val d2 = estate("ba")
    M.mergeLww(spark, d2, b, "k", Seq("ts"), "epoch=0")
    M.mergeLww(spark, d2, a, "k", Seq("ts"), "epoch=1")
    val want = Seq((1L, 20L, "newest"), (2L, 10L, "old2"), (3L, 7L, "best3"))
    assert(read(d1) == want, s"A,B order: ${read(d1)}")
    assert(read(d2) == want, s"B,A order: ${read(d2)}")
    // the marker line a streaming caller stamps is findable verbatim
    assert(M.describe(spark, d1, 2).linesIterator.exists(_.trim == "epoch=0"))
  }

  test("q368: dominant-topic pick uses no window buffer and broadcasts the dictionary") {
    val df = SparkEntry.queries("q368_taxonomy_tagging")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"dominant topic must be a struct-max aggregate, not a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 12-keyword dictionary must broadcast:\n$plan")
    // every document lands in exactly one (topic) bucket
    val total = df.agg(sum(col("n_docs"))).head().getLong(0)
    assert(total == graft.Tables.documents(spark, sf0001).count())
  }

  // ------------------------------------------------- q369 z-order

  test("q369: z-order strictly beats the single-column layout on the second column") {
    import graft.sources.{VersionedManifest => M}
    // build (or reuse) the estate by running the query once
    SparkEntry.queries("q369_zorder_clustering")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val total = M.prunedFilesOn(spark, dir, 2, "doc_id",
      Long.MinValue, Long.MaxValue).size
    def adm(v: Long, c: String, lo: Long, hi: Long) =
      M.prunedFilesOn(spark, dir, v, c, lo, hi).size
    val maxId = graft.Tables.documents(spark, sf0001)
      .agg(max(col("doc_id"))).head().getLong(0)
    val (aLo, aHi) = (maxId * 3 / 10, maxId * 4 / 10)
    val rangeChars = adm(1, "n_chars", 200, 260)
    val zChars = adm(2, "n_chars", 200, 260)
    val zIds = adm(2, "doc_id", aLo, aHi)
    val rangeIds = adm(1, "doc_id", aLo, aHi)
    assert(rangeChars == total,
      s"doc_id-range layout should be blind to n_chars: $rangeChars/$total")
    assert(zChars < rangeChars,
      s"z-order must prune the second column: $zChars vs $rangeChars")
    assert(zIds < total, s"z-order must still prune doc_id: $zIds/$total")
    // the trade: z-order gives up SOME doc_id tightness vs the pure
    // range layout but never degenerates to a full scan
    assert(rangeIds <= zIds, s"pure range should be tightest on its own " +
      s"column: range=$rangeIds z=$zIds")
    // pruned ≡ full equality on the probe the rollup serves
    val files = M.prunedFilesOn(spark, dir, 2, "n_chars", 200, 260)
    val pruned = spark.read.parquet(files: _*)
      .filter(col("n_chars").between(200, 260)).count()
    val full = M.readAt(spark, dir, 2)
      .filter(col("n_chars").between(200, 260)).count()
    assert(pruned == full, s"pruning lost rows: $pruned vs $full")
  }

  // ------------------------------------------------- q370 CALL sys.merge

  test("q370: sys.merge is in the roster and surfaces the dup-key refusal through SQL") {
    import graft.sources.{VersionedManifest => M}
    import spark.implicits._
    val root = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_sqlmerge_" +
      spark.sparkContext.applicationId)
    val cat = graft.sources.VersionedCatalog.mount(spark, "g370spec", root)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/t/v=1")
    M.commit(spark, s"$root/t", 1, "base")
    val roster = spark.sql(s"SHOW PROCEDURES IN $cat.sys")
      .collect().map(_.toString).mkString(",")
    assert(roster.contains("merge"), roster)
    Seq((9L, 90L), (9L, 91L)).toDF("id", "v")
      .createOrReplaceTempView("g370spec_dup")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.merge('t', 'g370spec_dup', 'id')").collect()
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    assert(M.latestCommitted(spark, s"$root/t").contains(1L),
      "a refused SQL merge must publish nothing")
    // and a clean one publishes v2 with a truthful receipt
    Seq((2L, 25L), (3L, 30L)).toDF("id", "v")
      .createOrReplaceTempView("g370spec_ok")
    val r = spark.sql(s"CALL $cat.sys.merge('t', 'g370spec_ok', 'id')").head()
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L && r.getLong(4) == 0L, r.toString)
    assert(M.readLatest(spark, s"$root/t").orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 25L), (3L, 30L)))
  }

  // ------------------------------------------------- q371 COW delete

  test("q371: deleteWhere keeps NULL-predicate rows and skips no-match publishes") {
    import graft.sources.{VersionedManifest => M}
    import spark.implicits._
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_del_" +
      spark.sparkContext.applicationId)
    Seq((1L, Some(5L)), (2L, None), (3L, Some(50L))).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    M.commit(spark, dir, 1, "base")
    // DELETE WHERE v > 10: row 3 goes, row 2 (NULL predicate) STAYS
    val (n, affected, _) = M.deleteWhere(spark, dir, "v > 10")
    assert(n == 2L && affected.nonEmpty)
    assert(M.readLatest(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a predicate matching nothing publishes NO version
    val (n2, aff2, unt2) = M.deleteWhere(spark, dir, "v > 1000")
    assert(n2 == 2L && aff2.isEmpty && unt2.nonEmpty)
    assert(M.latestCommitted(spark, dir).contains(2L))
  }

  // ------------------------------------------------- q372 dead-letter

  test("q372: nothing is dropped — main and dead-letter partition the input") {
    val df = SparkEntry.queries("q372_late_deadletter")(spark, sf0001)
    val r = df.agg(sum(col("n_ontime")), sum(col("n_late"))).head()
    val total = graft.Tables.events(spark, sf0001).count()
    assert(r.getLong(0) + r.getLong(1) == total,
      s"ontime ${r.getLong(0)} + late ${r.getLong(1)} != $total")
    // the first batch can never be late (no prior high-water mark)
    assert(r.getLong(1) > 0, "later batches must produce late rows here")
    assert(r.getLong(0) >= total / 4,
      "at least the first batch's rows are on time")
  }

  // ------------------------------------------------- q373 schema gate

  test("q373: evolution refuses retypes, not just drops") {
    import graft.sources.{VersionedManifest => M}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_evolve_" +
      spark.sparkContext.applicationId)
    M.writeSchema(spark, dir, StructType(Seq(StructField("id", LongType))))
    Seq(1L).toDF("id").write.mode("overwrite").parquet(s"$dir/v=1")
    assert(M.commitConformed(spark, dir, 1, "base").isEmpty)
    val bad = M.evolveSchema(spark, dir,
      StructType(Seq(StructField("id", StringType))))
    assert(bad == Left(Seq("evolution would retype id: bigint -> string")),
      bad.toString)
    // declared schema unchanged after the refusal
    assert(M.readSchema(spark, dir).get.fields.head.dataType == LongType)
  }

  test("q374: concurrent merges — disjoint rebases, overlapping aborts") {
    import graft.sources.{VersionedManifest => M}
    import spark.implicits._
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_ccm_" +
      spark.sparkContext.applicationId)
    def row(id: Long, v: Long) = (id, v)
    Seq(row(1, 10), row(2, 20)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d-a")
    M.commit(spark, dir, 1, "data=d-a\nbase")
    Seq(row(3, 30), row(4, 40)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d-b")
    M.commit(spark, dir, 2, "data=d-a\ndata=d-b\nappend")
    // A: touches d-b only, lands v3 with no rebase
    val (vA, rA) = M.mergeDetectingConflicts(spark, dir,
      Seq(row(3, 31)).toDF("id", "v"), "id")
    assert((vA, rA) == (3L, 0L))
    // B: staged against v2, touches d-a only — rebases onto v3, lands v4
    val (vB, rB) = M.mergeDetectingConflicts(spark, dir,
      Seq(row(1, 11)).toDF("id", "v"), "id", Some(2L))
    assert((vB, rB) == (4L, 1L))
    // C: staged against v2, touches the dir A rewrote — must abort,
    // and its aborted staging must stay invisible to readers
    intercept[java.util.ConcurrentModificationException] {
      M.mergeDetectingConflicts(spark, dir,
        Seq(row(4, 41)).toDF("id", "v"), "id", Some(2L))
    }
    // D: staged against v4, INSERT of a key concurrently inserted by E —
    // the added-dirs key check must refuse the double-insert
    Seq(row(9, 90)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/d-e")
    M.commit(spark, dir, 5,
      M.resolveDataDirs(spark, dir, 4).map(p => s"data=$p")
        .mkString("", "\n", "\ndata=d-e\nconcurrent insert"))
    intercept[java.util.ConcurrentModificationException] {
      M.mergeDetectingConflicts(spark, dir,
        Seq(row(9, 99)).toDF("id", "v"), "id", Some(4L))
    }
    // final state: both disjoint merges applied, no aborted writer's rows
    val got = M.readLatest(spark, dir).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(row(1, 11), row(2, 20), row(3, 31), row(4, 40),
      row(9, 90)), got.toString)
  }

  test("q375: prefix-cache window never collapses to a single partition") {
    val df = SparkEntry.queries("q375_prefix_cache_plan")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the LCP window partitions by (source, radix) — a global-order
    // window would show a SinglePartition exchange feeding Window
    assert(!plan.contains("SinglePartition"), plan)
    assert(df.collect().nonEmpty)
    // LCP ground truth on a hand-built bucket: prompts sharing "ab"
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdef", "en", "s1", 6L), (2L, "abcxyz", "en", "s1", 6L),
      (3L, "abcdefgh", "en", "s1", 8L), (4L, "zq", "en", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_lcp_" +
      spark.sparkContext.applicationId)
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")) {
      val src = s"$sf0001/$t.parquet"
      if (new java.io.File(src).exists)
        spark.read.parquet(src).limit(0).write.mode("overwrite")
          .parquet(s"$tmp/$t.parquet")
    }
    val r = SparkEntry.queries("q375_prefix_cache_plan")(spark, tmp)
      .collect().map(x => (x.getString(0), x.getLong(2), x.getLong(3))).toSeq
    // sorted: abcdef(0) -> abcdefgh(lcp 6) -> abcxyz(lcp 3); zq alone(0)
    assert(r == Seq(("s1", 22L, 9L)), r.toString)
  }

  test("q376: pass@k short-circuits at n-c<k and matches the closed form") {
    val rows = SparkEntry.queries("q376_pass_at_k")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, c, p) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      if (n - c < 5) assert(p == 1.0, r.toString)
      else {
        val expect = 1.0 - (0 until 5)
          .map(i => (n - c - i).toDouble / (n - i).toDouble).product
        assert(p == expect, s"$r vs $expect")
        assert(p >= 0.0 && p <= 1.0)
      }
    }
  }

  test("q377: bootstrap envelope brackets the point estimate, 32 replicates") {
    val rows = SparkEntry.queries("q377_bootstrap_ci")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, nRep, lo, hi) =
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(nRep == 32L, r.toString)
      assert(lo <= hi, r.toString)
      // Poisson-bootstrap means concentrate around the point estimate
      assert(lo <= mean && mean <= hi, r.toString)
    }
  }

  /** Clone sf0.001 into a tmp dir, overriding the named tables. */
  private def corpusWith(tag: String, over: Map[String,
      org.apache.spark.sql.DataFrame]): String = {
    val tmp = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_${tag}_" +
      spark.sparkContext.applicationId)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings", "documents")) {
      over.get(t) match {
        case Some(df) => df.write.mode("overwrite").parquet(s"$tmp/$t.parquet")
        case None =>
          val src = s"$sf0001/$t.parquet"
          if (new java.io.File(src).exists)
            spark.read.parquet(src).limit(0).write.mode("overwrite")
              .parquet(s"$tmp/$t.parquet")
      }
    }
    tmp
  }

  test("q386: a degenerate doc trips all three Gopher rules; a clean one none") {
    import spark.implicits._
    val spam = (("ab " * 20).trim, "bad")     // top 2-gram covers ~100%
    val clean = ((0 until 40).map(i => s"w$i").mkString(" "), "good")
    val docs = Seq(spam, clean).zipWithIndex.map { case ((t, src), i) =>
      (i.toLong, t, "en", src, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = corpusWith("gopher", Map("documents" -> docs))
    val r = SparkEntry.queries("q386_gopher_repetition")(spark, tmp)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toSeq
    assert(r == Seq(("bad", 1L, 1L, 1L, 1L, 0L), ("good", 1L, 0L, 0L, 0L, 1L)),
      r.toString)
  }

  test("q387: unigram precision is exactly 1 — the candidate is a subsequence") {
    val rows = SparkEntry.queries("q387_bleu_stats")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    val r1 = rows.head
    // every candidate token count is <= its reference count, so ALL
    // unigrams clip to themselves: clipped == total == cand_tokens
    assert(r1.getLong(1) == r1.getLong(2) && r1.getDouble(3) == 1.0, r1)
    assert(r1.getLong(2) == r1.getLong(4), r1)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), r.toString)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0, r.toString)
      assert(r.getLong(4) < r.getLong(5), r.toString) // 1/7 of tokens dropped
    }
    // bigrams spanning a dropped token are novel: strictly below 1
    assert(rows(1).getDouble(3) < 1.0, rows(1).toString)
  }

  test("q388: top-k is heap-based (no global sort) and the estimator tracks truth") {
    val df = SparkEntry.queries("q388_priority_sample")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val rows = df.collect()
    assert(rows.map(_.getLong(3)).sum == 64L, "sample size must be exactly k")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1), r.toString))
    val truth = rows.map(_.getLong(2)).sum.toDouble
    val est = rows.map(_.getDouble(4)).sum
    // k=64 of 100 docs: the priority-sampling estimate is tight here
    assert(math.abs(est - truth) / truth < 0.5, s"est=$est truth=$truth")
  }

  test("q393: rocksdb serves the state; the default provider exposes no rocksdb metrics") {
    val rows = SparkEntry.queries("q393_rocksdb_state")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(2), "rocksdb metrics were absent"))
    // the provider conf was restored after the run
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
    // control arm: the same dedup under the DEFAULT provider reports no
    // rocksdb counters — the evidence column measures the backend, not
    // a constant
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 1L)
    spark.catalog.dropTempView("r11_rocks_ctl")
    val q = in.toDF.select(col("value").as("event_id"),
        lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")).as("ts"))
      .withWatermark("ts", "1 hour").dropDuplicates("event_id")
      .writeStream.format("memory").queryName("r11_rocks_ctl")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val anyRocks = q.recentProgress.exists(p =>
      Option(p.stateOperators).exists(_.exists(op =>
        op.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))))
    assert(!anyRocks, "default provider leaked rocksdb metrics")
  }

  test("q394: unpivot emits exactly the wide row count times three metrics") {
    val rows = SparkEntry.queries("q394_sql_unpivot")(spark, sf0001).collect()
    val bySource = rows.groupBy(_.getString(0))
    assert(bySource.values.forall(_.length == 3), "3 metrics per source")
    val metrics = rows.map(_.getString(1)).distinct.sorted.toSeq
    assert(metrics == Seq("max_chars", "n_docs", "sum_chars"), metrics)
    val totalDocs = rows.filter(_.getString(1) == "n_docs")
      .map(_.getLong(2)).sum
    assert(totalDocs == graft.Tables.documents(spark, sf0001).count())
  }

  test("q395: predicted links are non-adjacent wedges; path graph predicts its endpoints") {
    val rows = SparkEntry.queries("q395_link_prediction")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (u, v, c, du, dv, j) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(u < v && c >= 1L && c <= math.min(du, dv), r.toString)
      assert(j > 0.0 && j <= 1.0, r.toString)
    }
    // hand graph: c1-{p1,p2}, c2-{p1,p2,p3,p4}, c3-{p3,p4} =>
    // edges (c1,c2),(c2,c3); the ONLY prediction is (c1,c3) via c2
    import spark.implicits._
    // one order per (cust, part): orderkey encodes both
    val liFull = Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
      (2L, 103L), (2L, 104L), (3L, 103L), (3L, 104L)).map { case (c, p) =>
      (c * 1000 + p, p)
    }.toDF("l_orderkey", "l_partkey")
    val ordFull = Seq((1L, 101L), (1L, 102L), (2L, 101L), (2L, 102L),
      (2L, 103L), (2L, 104L), (3L, 103L), (3L, 104L)).map { case (c, p) =>
      (c * 1000 + p, c)
    }.toDF("o_orderkey", "o_custkey")
    val tmp = corpusWith("linkpred", Map(
      "lineitem" -> liFull, "orders" -> ordFull))
    val r = SparkEntry.queries("q395_link_prediction")(spark, tmp)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(5))).toSeq
    // common neighbor = c2; deg(c1) = deg(c3) = 1 -> jaccard = 1/(1+1-1)
    assert(r == Seq((1L, 3L, 1L, 1.0)), r.toString)
  }

  test("q396: CUPED identity var_cv = var_y(1-rho2); reduction bounded") {
    val r = SparkEntry.queries("q396_cuped")(spark, sf0001).collect().head
    val (varX, varY, cov) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val (theta, varCv, rho2) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(varX > 0 && varY > 0)
    assert(rho2 >= 0.0 && rho2 <= 1.0, r.toString)
    assert(varCv >= 0.0 && varCv <= varY, r.toString)
    assert(math.abs(varCv - varY * (1.0 - rho2)) < 1e-9 * varY, r.toString)
    assert(math.abs(theta - cov / varX) < 1e-12 * math.abs(theta).max(1.0))
  }

  test("q397: arm sizes partition the exposed users; significance tracks |z|") {
    val rows = SparkEntry.queries("q397_ab_ztest")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, na, nb, xa, xb) = (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      val exposed = graft.Tables.events(spark, sf0001)
        .filter(col("event_type") === t)
        .select(col("user_id")).distinct().count()
      assert(na + nb == exposed, s"$t: ${na + nb} vs $exposed")
      assert(xa <= na && xb <= nb, r.toString)
      if (!r.isNullAt(5)) {
        val z = r.getDouble(5)
        assert((math.abs(z) > 1.96) == (r.getLong(6) == 1L), r.toString)
      } else assert(r.isNullAt(6), r.toString)
    }
  }

  test("q398: a new doc MERGES two old components; untouched clusters splice through") {
    import spark.implicits._
    val x = "a b c d e f"; val y = "g h i j k l"; val w = "m n o p q r"
    val bridge = "a b c d e g h i j k" // j = 3/9 vs both x and y
    val docs = Seq(
      (1L, x), (2L, x), (4L, y), (5L, y), // old: two clusters
      (3L, bridge),                       // new (3 % 3 == 0): the bridge
      (7L, w), (8L, w))                   // old: untouched control
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = corpusWith("inccomp", Map("documents" -> docs))
    val r = SparkEntry.queries("q398_incremental_components")(spark, tmp)
      .collect().map(x0 => (x0.getLong(0), x0.getLong(1), x0.getLong(2)))
      .toSeq
    assert(r == Seq((1L, 5L, 1L), (7L, 2L, 0L)), r.toString)
  }

  test("q399: epochs reshuffle; resume positions match the full-sort truth") {
    val rows = SparkEntry.queries("q399_epoch_shuffle")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    byEpoch.values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq ==
        ((1L to 8L) ++ (21L to 24L)).toSeq, rs.mkString(","))
    }
    // between-epoch reshuffle: the heads must not repeat in order
    val heads = (1L to 3L).map(e =>
      byEpoch(e).sortBy(_._2).take(8).map(_._3).toSeq)
    assert(heads.distinct.size == 3, heads.toString)
    // the resume window equals a literal full sort of epoch 1's keys
    val truth = graft.Tables.documents(spark, sf0001)
      .selectExpr("doc_id",
        "CAST(conv(substring(md5(concat('ep1-', CAST(doc_id AS STRING))), " +
          "1, 12), 16, 10) AS BIGINT) AS key")
      .orderBy(col("key"), col("doc_id")).collect().map(_.getLong(0))
    val resume1 = byEpoch(1L).sortBy(_._2).drop(8).map(_._3).toSeq
    assert(resume1 == truth.slice(20, 24).toSeq, resume1.toString)
  }

  test("q400: dropped bytes never resurrect; time travel still serves them") {
    SparkEntry.queries("q400_column_drop")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_coldrop_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val M = graft.sources.VersionedManifest
    // v1 files still carry the physical column with real values
    val v1 = spark.read.parquet(
      M.resolveDataDirs(spark, dir, 1).head)
    assert(v1.columns.contains("source"))
    assert(v1.filter(col("source").isNotNull).count() == v1.count())
    // yet at v3 every even row's LOGICAL source is NULL (fresh field)
    val r = SparkEntry.queries("q400_column_drop")(spark, sf0001).collect()
    val nullGroup = r.filter(_.isNullAt(0)).map(_.getLong(1)).sum
    assert(nullGroup == v1.count(), s"$nullGroup vs ${v1.count()}")
    // and the drop itself was metadata-only: v2 addresses v1's dir
    assert(M.resolveDataDirs(spark, dir, 2) ==
      M.resolveDataDirs(spark, dir, 1))
  }

  test("q401: declared FK eliminates the dim scan; a moved dim degrades to a real join") {
    val M = graft.sources.VersionedManifest
    val df = SparkEntry.queries("q401_fk_catalog")(spark, sf0001)
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_fkdecl_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val plan = df.queryExecution.executedPlan.toString
    // explain abbreviates long file locations, so count the scans: with the
    // dim eliminated, the orders fact is the only one
    assert("FileScan".r.findAllIn(plan).size == 1, s"dim scan survived:\n$plan")
    assert(df.collect().forall(_.getLong(3) == 1L), "one live FK expected")
    // dim moves on -> the pinned declaration is STALE: no registration,
    // and the join must come back (correctness over speed)
    import spark.implicits._
    Seq((999999L, "new customer", 0L))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$root/customers/v=2")
    M.commit(spark, s"$root/customers", 2,
      s"data=$root/customers/v=1\ndata=$root/customers/v=2\nappend")
    assert(M.registerDeclaredForeignKeys(spark, s"$root/orders") == 0)
    // audit refusal: a dangling FK pair can never be declared
    val bad = M.declareForeignKey(spark, s"$root/orders", "o_orderkey",
      s"$root/customers", "c_custkey")
    assert(bad.isLeft && bad.left.exists(_.exists(_.contains("dangling"))),
      bad.toString)
  }

  test("q402: the V-shape DFA on hand-built sequences") {
    import spark.implicits._
    def mk(user: Long, vals: Seq[Double]) = vals.zipWithIndex.map {
      case (v, i) =>
        (user * 1000 + i, java.sql.Timestamp.valueOf(
          f"2000-01-01 00:${i}%02d:00"), user, "e", v, "{}")
    }
    val events = (
      mk(0L, Seq(5, 4, 3, 4, 5)) ++          // one V
        mk(1L, Seq(5, 4, 5, 4, 5)) ++        // single-step falls: none
        mk(2L, Seq(9, 8, 7, 6, 7, 8, 7, 6, 5, 6, 7)) ++ // two Vs
        mk(3L, Seq(5, 4, 3, 3, 4, 5))        // plateau resets: none
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = corpusWith("matchrec", Map("events" -> events))
    val r = SparkEntry.queries("q402_match_recognize")(spark, tmp)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3)))
      .toSeq.sortBy(_._1)
    // cohort = user_id % 4 = user here; (cohort, users_with_match, total)
    assert(r == Seq((0L, 1L, 1L), (1L, 0L, 0L), (2L, 1L, 2L),
      (3L, 0L, 0L)), r.toString)
  }

  test("q403: applyScd2 chains intervals, refuses late changes, leaves others untouched") {
    import spark.implicits._
    val M = graft.sources.VersionedManifest
    val dir = StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_scd2m_" +
      spark.sparkContext.applicationId)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2000-01-01 00:$m%02d:00")
    def batch(rows: (Long, Double, Int, Long)*) = rows.map {
      case (u, v, m, e) => (u, "e", v, ts(m), e)
    }.toDF("user_id", "event_type", "value", "ts", "event_id")
    batch().limit(0)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts").as("start_ts"), col("ts").as("end_ts"))
      .write.mode("overwrite").parquet(s"$dir/v=1")
    M.commit(spark, dir, 1, "bootstrap")
    M.applyScd2(spark, dir, batch((1L, 10.0, 1, 100L)),
      "user_id", "ts", "event_id", "b1")
    M.applyScd2(spark, dir, batch((1L, 20.0, 3, 200L), (2L, 5.0, 3, 201L)),
      "user_id", "ts", "event_id", "b2")
    val rows = M.readLatest(spark, dir)
      .orderBy(col("user_id"), col("start_ts"))
      .collect().map(r => (r.getLong(0), r.getDouble(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)))).toSeq
    assert(rows == Seq(
      (1L, 10.0, ts(1), Some(ts(3))),  // closed by the change at :03
      (1L, 20.0, ts(3), None),
      (2L, 5.0, ts(3), None)), rows.toString)
    // a change at-or-before existing history refuses loudly
    val late = intercept[IllegalArgumentException] {
      M.applyScd2(spark, dir, batch((1L, 99.0, 2, 300L)),
        "user_id", "ts", "event_id", "b3")
    }
    assert(late.getMessage.contains("dead letter"), late.getMessage)
    assert(M.latestCommitted(spark, dir).contains(3L))
  }

  test("q404: native session operator in the plan; exact-gap adjacency merges") {
    val df = SparkEntry.queries("q404_session_window")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Session"), s"no session operator:\n$plan")
    assert(df.collect().nonEmpty)
    // boundary semantics: exactly-gap spacing MERGES (adjacency is
    // inclusive); one second beyond the gap splits
    import spark.implicits._
    def ev(id: Long, m: Int, sec: Int) = (id,
      java.sql.Timestamp.valueOf(f"2000-01-01 00:$m%02d:$sec%02d"),
      1L, "e", 1.0, "{}")
    val events = Seq(ev(1, 0, 0), ev(2, 10, 0), // exactly 10 min: merges
      ev(3, 20, 1))                             // 10:01 later: splits
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = corpusWith("sesswin", Map("events" -> events))
    val r = SparkEntry.queries("q404_session_window")(spark, tmp)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).toSeq
    // one user, TWO sessions ([0:00,10:00] merged; [20:01]), three events
    assert(r == Seq((1L, 2L, 3L)), r.toString)
  }

  test("q405: nullsafe minus strict equals the null-mass product; hash join throughout") {
    val df = SparkEntry.queries("q405_null_safe_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the two KEYED joins (strict, null-safe) must both be hash joins —
    // the 1-row evidence combiners are legitimately nested-loop cross
    // joins and don't count
    val hashJoins = "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin".r
      .findAllIn(plan).size
    assert(hashJoins >= 2,
      s"null-safe equality fell off the hash path:\n$plan")
    val r = df.collect().head
    val (strict, nullsafe, na, nb) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nullsafe - strict == na * nb, r.toString)
    assert(na > 0 && nb > 0, "the null arm must be exercised")
  }

  test("q406: self-seeded clusters have zero drift; shares sum to the corpus") {
    import spark.implicits._
    val rows = SparkEntry.queries("q406_kmeans_refine")(spark, sf0001)
      .collect()
    val total = graft.Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(rows.map(_.getLong(2)).sum <= 1000000L)
    rows.foreach(r => assert(r.getLong(3) >= 0L))
    // hand corpus: duplicates of two seeds -> every cluster mean == seed
    val base = (0 until 8).map(i =>
      (i.toLong, Array.fill(4)(i.toFloat), i))
    val dups = Seq((8L, Array.fill(4)(0.0f), 0), (9L, Array.fill(4)(1.0f), 1))
    val emb = (base ++ dups).toDF("vec_id", "embedding", "label")
    val tmp = corpusWith("kmref", Map("embeddings" -> emb))
    val r = SparkEntry.queries("q406_kmeans_refine")(spark, tmp)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSeq
    assert(r == (0L to 7L).map(c =>
      (c, if (c <= 1) 2L else 1L, 0L)).toSeq, r.toString)
  }

  test("q389: alpha is exactly 1 under perfect agreement, negative under systematic disagreement") {
    import spark.implicits._
    def events(vals: Long => Double) =
      (0L until 388L).map { i =>
        (i, java.sql.Timestamp.valueOf("2000-01-01 00:00:00"),
          i % 7, "e", vals(i), "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // 97 units x 4 ratings each; label by unit parity -> d_u = 0, S = 0
    val agree = corpusWith("kagree", Map("events" ->
      events(i => if (i % 97 % 2 == 0) 10.0 else 400.0)))
    val a1 = SparkEntry.queries("q389_krippendorff_alpha")(spark, agree)
      .collect().head
    assert(a1.getDouble(4) == 1.0, a1.toString)
    // every unit split 2 lo / 2 hi -> alpha = 1 - (4U-1)/(3U) < 0
    val split = corpusWith("ksplit", Map("events" ->
      events(i => if (i / 97 % 2 == 0) 10.0 else 400.0)))
    val a2 = SparkEntry.queries("q389_krippendorff_alpha")(spark, split)
      .collect().head
    val u = 97.0
    assert(math.abs(a2.getDouble(4) - (1.0 - (4 * u - 1) / (3 * u))) < 1e-12,
      a2.toString)
  }
}
