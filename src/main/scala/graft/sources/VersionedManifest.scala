package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal versioned-manifest table layout — the snapshot-isolation concept
  * of a transactional table format (Delta/Iceberg's log, reference analog:
  * the landed `data/` corpus re-read between scrape sessions) without a
  * format jar on the classpath (r9 verdict #3).
  *
  * Layout:
  * {{{
  *   <dir>/v=1/part-*.parquet      # data for version 1
  *   <dir>/v=2/part-*.parquet      # data for version 2
  *   <dir>/_commits/1              # manifest: version 1 is committed
  *   <dir>/_commits/2              # manifest: version 2 is committed
  * }}}
  *
  * Commit protocol: a writer lands ALL data under `v=N/` first, then
  * publishes the one-file manifest `_commits/N` by write-temp +
  * atomic-rename. Readers NEVER list `v=*` directories — they list only
  * `_commits/` and plan against the highest committed N, so a rewrite in
  * flight (data present, manifest absent) is invisible until its single
  * atomic rename lands: read isolation during rewrite, the property
  * q242/q245's in-place compaction could not offer. A failed writer leaves
  * an orphan `v=N` dir that a vacuum pass can collect; it can never
  * corrupt a reader.
  *
  * All filesystem traffic goes through the Hadoop [[FileSystem]] API
  * (resolved from the path's URI + the session's hadoopConfiguration), so
  * this code path is the one a multi-node deployment runs — local mode
  * merely binds it to RawLocalFileSystem. Rename atomicity is the
  * format's standard assumption (HDFS/ABFS rename; S3 estates swap in a
  * conditional-PUT catalog — the reader protocol is unchanged).
  */
object VersionedManifest {

  private def fs(dir: String, s: SparkSession): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Publish version `n`: data under `<dir>/v=<n>` must already be fully
    * landed. The manifest body records the writer's description — readers
    * only test existence, so the body is audit metadata.
    */
  def commit(s: SparkSession, dir: String, n: Long, meta: String): Unit = {
    val f = fs(dir, s)
    val commits = new Path(dir, "_commits")
    f.mkdirs(commits)
    val tmp = new Path(commits, s".$n.tmp")
    val out = f.create(tmp, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    // the commit POINT: one atomic rename makes the version visible
    if (!f.rename(tmp, new Path(commits, n.toString)))
      throw new IllegalStateException(
        s"commit of version $n at $dir lost a rename race")
  }

  /** OPTIMISTIC commit attempt for version `n`: returns true iff THIS
    * writer published `n`, false iff a concurrent commit already owns the
    * slot. Conflict detection is the manifest create itself —
    * `FileSystem.create(overwrite = false)` is exclusive (O_EXCL on the
    * local FS, namenode-atomic on HDFS; object-store estates swap in a
    * conditional PUT) — so writers racing for the same version serialize
    * with no lock service: exactly one create succeeds, every loser sees
    * `false` and rebases. Content atomicity is not needed here: the
    * version's data is fully landed BEFORE tryCommit and readers treat
    * manifest existence as the commit point; the body is addressing plus
    * audit metadata.
    *
    * The body's first line may be `data=<subdir>`: the version's rows
    * then live under `<dir>/<subdir>` instead of the positional `v=<n>`
    * ([[resolveDataDir]]). Decoupling data location from version number
    * is what makes optimistic retries SAFE — each attempt stages under
    * its own unique directory, so a loser's files can never mix with the
    * winner's committed ones.
    */
  def tryCommit(s: SparkSession, dir: String, n: Long, meta: String): Boolean = {
    val f = fs(dir, s)
    val commits = new Path(dir, "_commits")
    f.mkdirs(commits)
    val dst = new Path(commits, n.toString)
    val scheme = dst.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // RawLocalFileSystem.create(overwrite = false) is CHECK-THEN-ACT —
      // two same-JVM threads (or two local processes) racing one slot can
      // BOTH "win" and silently overwrite each other (found by the
      // Round12Spec N-writer property test). POSIX O_CREAT|O_EXCL is the
      // local equivalent of HDFS's namenode-atomic exclusive create.
      //
      // CONTENT atomicity matters here too (r12 ADVICE #1): the body
      // carries load-bearing `data=` addressing, and a concurrent reader
      // (appendBatch's rebase loop reading latestCommitted +
      // carriedDataLines) must never observe an empty/truncated body —
      // so the body is written to a writer-unique temp file first and
      // PUBLISHED atomically via hard link: Files.createLink is atomic
      // on POSIX, throws FileAlreadyExistsException on a lost race, and
      // the linked name carries the complete content from its first
      // visible instant.
      val local = java.nio.file.Paths.get(dst.toUri.getPath)
      val tmp = local.resolveSibling(
        s".${n}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      java.nio.file.Files.write(tmp, meta.getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hard links on this mount (overlay/FUSE/network tmpdirs,
          // r13 ADVICE #3) — fall back to the exclusive CREATE_NEW write:
          // still exactly-one-winner; content tearing is bounded to these
          // non-hardlink filesystems and the body stays tiny
          try {
            java.nio.file.Files.write(local, meta.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out =
        try f.create(dst, false)
        catch { case e: java.io.IOException =>
          if (f.exists(dst)) return false else throw e
        }
      try out.write(meta.getBytes("UTF-8")) finally out.close()
      true
    }
  }

  /** WRITE-AUDIT-PUBLISH: the commit-refusing gate (r10 verdict #3).
    * Version `n`'s data must be fully landed under `v=<n>` (the plain
    * [[commit]] layout); `audit` runs over that STAGED, still-invisible
    * data and returns violation descriptions. Empty → publish (one
    * atomic rename, exactly [[commit]]) and return Nil; non-empty →
    * NO manifest is written, readers can never see the version, the
    * data dir remains an orphan for [[vacuum]], and the violations are
    * returned for the writer's dead-letter path. The audit is one
    * aggregate pass over the staged directory — the "A" of the
    * write-audit-publish loop, composed from q243's DQ checks; q265's
    * observe-metrics variant rides the same hook (any
    * `DataFrame => Seq[String]` closure).
    */
  def commitAudited(s: SparkSession, dir: String, n: Long, meta: String,
                    audit: DataFrame => Seq[String]): Seq[String] = {
    val staged = s.read.parquet(s"$dir/v=$n")
    val violations = audit(staged)
    if (violations.isEmpty) {
      commit(s, dir, n, s"$meta\naudit=pass")
      Nil
    } else violations
  }

  // ------------------------------------------------ declared constraints

  /** Declared CHECK constraints of committed version `n`:
    * `constraint=<name>:<sql predicate>` manifest lines. Constraints are
    * TABLE METADATA carried in every manifest body (each publish copies
    * the inherited set forward), so a snapshot's rules travel with it —
    * time travel to version `n` sees exactly the constraints that were
    * in force when `n` was written.
    */
  def constraintsAt(s: SparkSession, dir: String, n: Long): Seq[(String, String)] =
    manifestBody(fs(dir, s), dir, n).linesIterator.toSeq
      .filter(_.startsWith("constraint="))
      .map(_.stripPrefix("constraint=").split(":", 2))
      .collect { case Array(name, pred) => (name, pred) }

  /** Constraints in force now (those of the latest committed version). */
  def constraints(s: SparkSession, dir: String): Seq[(String, String)] =
    latestCommitted(s, dir).map(n => constraintsAt(s, dir, n)).getOrElse(Nil)

  /** Violation count per constraint over `df`, ALL constraints in ONE
    * aggregate pass (one `sum(CASE …)` column each — map-side combinable,
    * no per-constraint rescans). Standard CHECK semantics: a row violates
    * iff the predicate evaluates to FALSE; UNKNOWN (NULL) passes, exactly
    * as SQL CHECK and Delta's table constraints treat it — a NOT NULL
    * rule is therefore spelled `col IS NOT NULL`, which never yields
    * UNKNOWN.
    */
  private def violationCounts(df: DataFrame,
                              cs: Seq[(String, String)]): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    if (cs.isEmpty) return Nil
    val aggs = cs.zipWithIndex.map { case ((_, p), i) =>
      sum(when(not(coalesce(expr(p), lit(true))), lit(1L))
        .otherwise(lit(0L))).as(s"c$i")
    }
    // one row, |constraints| columns — driver traffic is O(#constraints)
    val row = df.agg(aggs.head, aggs.drop(1): _*).collect()(0)
    cs.zipWithIndex.map { case ((name, _), i) =>
      (name, if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** ALTER TABLE ADD CONSTRAINT: the new predicate must hold on the
    * CURRENT table first (one aggregate scan of the latest snapshot —
    * the same validate-before-activate contract Delta's ADD CONSTRAINT
    * has); a violated history refuses with the offending row count and
    * publishes NOTHING. On success the constraint activates via a
    * METADATA-ONLY version: `dataChange=false`, `data=` lines
    * re-addressing the latest snapshot's dirs byte-for-byte (subscribers
    * skip it, q338's contract; time travel behind it sees the old rule
    * set), body carrying inherited + new `constraint=` lines.
    */
  def addConstraint(s: SparkSession, dir: String, name: String,
                    predicate: String): Either[Long, Long] = {
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val inherited = constraintsAt(s, dir, latest)
    require(!inherited.exists(_._1 == name),
      s"constraint $name already declared at $dir")
    val bad = violationCounts(readAt(s, dir, latest),
      Seq(name -> predicate)).head._2
    if (bad > 0) return Left(bad)
    val fmt = formatOf(s, dir, latest)
    val dataLines = resolveDataDirsWithFormat(s, dir, latest).map {
      case (d0, f0) => if (f0 == fmt) s"data=$d0" else s"data=$d0;format=$f0"
    }
    val all = inherited :+ (name -> predicate)
    val body = (Seq(s"alter add constraint $name", s"format=$fmt",
      "dataChange=false") ++ dataLines ++
      all.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
    val v = latest + 1
    commit(s, dir, v, body)
    Right(v)
  }

  /** Constraint-ENFORCING append publish: the staged increment under
    * `v=<n>` is checked against every declared constraint in one
    * aggregate pass — violations mean NO manifest rename (readers keep
    * the previous snapshot, the staged dir is a vacuumable orphan) and
    * the per-constraint counts come back for the dead-letter path. Only
    * the INCREMENT is scanned: constraints are row-local predicates and
    * every already-visible row was validated at ITS publish (or at
    * ALTER time), so enforcement stays O(batch), never O(table). On
    * success the new manifest addresses {previous snapshot dirs} ∪
    * {v=<n>} (cumulative, the q323 stream-sink convention) and carries
    * the constraint set forward.
    */
  def commitConstrained(s: SparkSession, dir: String, n: Long,
                        meta: String): Seq[String] = {
    val cs = constraints(s, dir)
    val staged = s.read.parquet(s"$dir/v=$n")
    val bad = violationCounts(staged, cs).filter(_._2 > 0)
    if (bad.nonEmpty)
      return bad.map { case (nm, c) =>
        s"constraint $nm violated by $c staged rows"
      }
    val body = (Seq(meta) ++
      (carriedDataLines(s, dir) :+ s"data=$dir/v=$n") ++
      cs.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
    commit(s, dir, n, body)
    Nil
  }

  /** Predicate-scoped DML (UPDATE / overwrite-where) scans and rewrites
    * survivors through the parquet reader — a stream-landed (json) or
    * mixed snapshot must compact first (q326), the same contract SQL
    * DELETE enforces via `canDeleteWhere`. */
  private def requireUniformParquet(s: SparkSession, dir: String,
                                    latest: Long, op: String): Unit = {
    val fmts = resolveDataDirsWithFormat(s, dir, latest).map(_._2).distinct
    require(fmts.isEmpty || fmts == Seq("parquet"),
      s"$op requires a uniform parquet snapshot (found ${fmts.mkString(",")})" +
        " — compact first")
  }

  /** Previous snapshot's `data=` lines with per-dir formats PRESERVED —
    * an append onto a stream-landed (json) or mixed table must not
    * silently relabel its history as parquet. */
  private def carriedDataLines(s: SparkSession, dir: String): Seq[String] =
    latestCommitted(s, dir).toSeq
      .flatMap(v => resolveDataDirsWithFormat(s, dir, v))
      .map { case (d0, fmt) =>
        if (fmt == "parquet") s"data=$d0" else s"data=$d0;format=$fmt"
      }

  // ------------------------------------ informational foreign keys (q401)

  /** DECLARE an informational FK (fact.`factCol` → dim.`dimKey`) on the
    * FACT table's metadata — the warehouse pattern where unenforced
    * constraints still power optimization (Oracle/Snowflake RELY,
    * Databricks informational PK/FK): the declaration is AUDITED first
    * (the q281 protocol — null FKs, dangling FKs via one anti join,
    * dim-key uniqueness), refuses with evidence if violated, and on
    * success lands as a metadata-only version carrying
    * `fk=<factCol>:<dimKey>:<dimVersion>:<dimDir>`. The dim's CURRENT
    * version is PINNED into the line: the declaration is a statement
    * about two specific snapshots, so any later dim commit makes it
    * STALE (see [[liveForeignKeys]]) rather than silently wrong — the
    * version-pinned form of constraint invalidation.
    */
  def declareForeignKey(s: SparkSession, dir: String, factCol: String,
                        dimDir: String, dimKey: String)
      : Either[Seq[String], Long] = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val dimLatest = latestCommitted(s, dimDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dimDir"))
    val fact = readAt(s, dir, latest)
    val dim = readAt(s, dimDir, dimLatest)
    val nullFks = fact.filter(col(factCol).isNull).limit(1).count()
    val dimDup = dim.agg(
        (count(lit(1)) - countDistinct(col(dimKey))).as("d"))
      .head().getLong(0)
    val dangling = fact.select(col(factCol).as(dimKey))
      .join(dim.select(col(dimKey)), Seq(dimKey), "left_anti")
      .limit(1).count()
    val problems =
      (if (nullFks > 0) Seq(s"fact $factCol has NULLs") else Nil) ++
        (if (dimDup > 0) Seq(s"dim $dimKey is not unique") else Nil) ++
        (if (dangling > 0) Seq(s"fact $factCol has dangling values") else Nil)
    if (problems.nonEmpty) return Left(problems)
    val prior = manifestBody(fs(dir, s), dir, latest).linesIterator.toSeq
      .filter(_.startsWith("fk="))
    val line = s"fk=$factCol:$dimKey:$dimLatest:$dimDir"
    val v = latest + 1
    commit(s, dir, v,
      (Seq(s"declare fk $factCol -> $dimKey", "dataChange=false") ++
        carriedDataLines(s, dir) ++ (prior :+ line).distinct).mkString("\n"))
    Right(v)
  }

  /** FKs declared on the fact table that are still LIVE: the pinned dim
    * version must equal the dim's CURRENT latest — a dim that moved on
    * invalidates every declaration pinned to its old snapshot (the
    * conservative reading; production re-audits and re-declares).
    * Returns (factCol, dimKey, dimDir) triples. O(#fk lines) manifest
    * reads, no data scan.
    */
  def liveForeignKeys(s: SparkSession, dir: String)
      : Seq[(String, String, String)] = {
    val latest = latestCommitted(s, dir).getOrElse(return Nil)
    manifestBody(fs(dir, s), dir, latest).linesIterator.toSeq
      .filter(_.startsWith("fk="))
      .map(_.stripPrefix("fk=").split(":", 4))
      .collect { case Array(factCol, dimKey, pinned, dimDir)
        if latestCommitted(s, dimDir).contains(pinned.toLong) =>
        (factCol, dimKey, dimDir)
      }
  }

  /** Load the fact table's LIVE FK declarations into the optimizer's
    * [[graft.plans.DeclaredConstraints]] registry (path-identified via
    * the dim snapshot's resolved data dirs), so `spark.graft.ri.eliminate`
    * can drop unused dimension joins for catalog-declared estates the
    * same way q281 does for session-registered ones. Stale declarations
    * are skipped — a moved dim never powers an elimination.
    */
  def registerDeclaredForeignKeys(s: SparkSession, dir: String): Int = {
    val live = liveForeignKeys(s, dir)
    val registered = live.filter { case (factCol, dimKey, dimDir) =>
      val dimLatest = latestCommitted(s, dimDir).get
      val dims = resolveDataDirs(s, dimDir, dimLatest)
      // the rule's scan identity is exact single-path equality — a
      // multi-dir dim snapshot compacts (q245) before its FK can power
      // eliminations; registering a partial path would be UNSOUND (the
      // scan would not be THE registered dimension)
      dims.size == 1 && {
        val dimCols = readAt(s, dimDir, dimLatest).columns.toSet
        graft.plans.DeclaredConstraints.register(
          graft.plans.DeclaredConstraints.FkPk(factCol, dimCols, dimKey,
            graft.plans.ScanIdentity.normalize(dims.head)))
        true
      }
    }
    registered.size
  }

  // ------------------------------------------------ schema enforcement

  /** SCHEMA-ENFORCING append publish (Delta's write-time schema
    * enforcement): the staged increment's parquet footer schema must
    * match the DECLARED schema ([[readSchema]]) as a (name → type) map —
    * order-free, nullability-free — or the batch refuses with every
    * mismatch named (missing / undeclared / retyped columns) and NO
    * manifest is written. Pairs with [[evolveSchema]]: the gate is what
    * makes evolution EXPLICIT — a producer can never widen the table by
    * accident, which is how silent schema drift poisons a 100 TB estate.
    * Cost: one footer read of the staged dir — no data scan at all.
    */
  def commitConformed(s: SparkSession, dir: String, n: Long,
                      meta: String): Seq[String] = {
    val declared = readSchema(s, dir).getOrElse(
      throw new IllegalStateException(s"no declared schema at $dir"))
    val problems =
      conformProblems(declared, s.read.parquet(s"$dir/v=$n").schema)
    if (problems.nonEmpty) return problems
    commit(s, dir, n, (Seq(meta) ++
      (carriedDataLines(s, dir) :+ s"data=$dir/v=$n")).mkString("\n"))
    Nil
  }

  /** Order-free, nullability-free (name → type) schema diff shared by
    * the footer gate ([[commitConformed]]) and the batch-append gate
    * ([[appendBatch]]). */
  private def conformProblems(declared: org.apache.spark.sql.types.StructType,
                              staged: org.apache.spark.sql.types.StructType)
      : Seq[String] = {
    def m(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (dm, sm) = (m(declared), m(staged))
    (dm.keySet -- sm.keySet).toSeq.sorted.map(c => s"missing column $c") ++
      (sm.keySet -- dm.keySet).toSeq.sorted
        .map(c => s"undeclared column $c") ++
      dm.keySet.intersect(sm.keySet).toSeq.sorted
        .filter(k => dm(k) != sm(k))
        .map(k => s"column $k is ${sm(k)}, declared ${dm(k)}")
  }

  /** EXPLICIT ADDITIVE schema evolution: the new declared schema must
    * contain every existing column at its existing type (drops and
    * retypes refuse — those are COW rewrites, not declarations); the new
    * declaration lands plus a metadata-only version recording the event
    * in the audit trail (history shows WHEN the contract changed, q291).
    * Earlier data dirs simply lack the added columns — readers surface
    * them as NULL via footer merge (q239's contract).
    */
  def evolveSchema(s: SparkSession, dir: String,
                   newSchema: org.apache.spark.sql.types.StructType)
      : Either[Seq[String], Long] = {
    val old = readSchema(s, dir).getOrElse(
      throw new IllegalStateException(s"no declared schema at $dir"))
    def m(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (om, nm) = (m(old), m(newSchema))
    val problems =
      (om.keySet -- nm.keySet).toSeq.sorted
        .map(c => s"evolution would drop column $c") ++
        om.keySet.intersect(nm.keySet).toSeq.sorted
          .filter(k => om(k) != nm(k))
          .map(k => s"evolution would retype $k: ${om(k)} -> ${nm(k)}")
    if (problems.nonEmpty) return Left(problems)
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    writeSchema(s, dir, newSchema)
    val added = (nm.keySet -- om.keySet).toSeq.sorted.mkString(", ")
    val dataLines = resolveDataDirs(s, dir, latest).map(d0 => s"data=$d0")
    val v = latest + 1
    commit(s, dir, v,
      (Seq(s"schema evolved: added $added", "dataChange=false") ++
        dataLines).mkString("\n"))
    Right(v)
  }

  /** COPY-ON-WRITE MERGE (upsert) into the versioned table at the
    * format's natural rewrite granularity — the DATA DIRECTORY (the
    * manifest's `data=` unit; Iceberg's COW rewrites files, this format's
    * dirs play that role): source rows REPLACE snapshot rows sharing
    * `key` and append otherwise. One pass over the snapshot finds the
    * AFFECTED dirs (a semi join against the source keys, grouped by
    * `input_file_name` — O(affected files) driver rows); only those dirs
    * are rewritten (their unmatched rows + the whole source) into a
    * fresh `d-m<n>` dir, and the new manifest addresses {untouched dirs}
    * ∪ {merge dir} — an untouched dir's bytes are never read twice and
    * never move. Declared constraints (q363) ride forward and the merge
    * output is validated against them before publish. Duplicate source
    * keys refuse up front (ambiguous upsert — the MERGE cardinality rule).
    * Publication is [[tryCommit]]: a lost race throws
    * ConcurrentModificationException and the caller re-runs against the
    * new snapshot (the standard OCC rebase contract, q284).
    *
    * Returns (new version, affected dirs, untouched dirs).
    */
  /** Partition a snapshot's data dirs into (affected, untouched) given
    * the file paths a DML discovery scan matched. Matching is by PATH
    * PREFIX — a matched file anywhere UNDER a registered dir marks that
    * dir affected — not immediate-parent equality, so a nested layout
    * (e.g. a partitionBy write inside a data dir) can never classify as
    * untouched and let supposedly-replaced rows survive (r11 advice).
    * Driver-side over O(#dirs × #matched files) short lists.
    */
  private def splitAffected(dirs: Seq[String], matchedFiles: Seq[String])
      : (Seq[String], Seq[String]) = {
    def norm(p: String): String = new Path(p).toUri.getPath
    val files = matchedFiles.map(norm)
    dirs.partition { d0 =>
      val dp = norm(d0)
      files.exists(f => f == dp || f.startsWith(dp + "/"))
    }
  }

  def merge(s: SparkSession, dir: String, source: DataFrame,
            key: String): (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val dup = source.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dup == 0,
      s"merge source has duplicate $key values: ambiguous upsert")
    val dirs = resolveDataDirs(s, dir, latest)
    val keys = source.select(col(key))
    val matchedFiles = s.read.parquet(dirs: _*)
      .select(col(key), input_file_name().as("_gfile"))
      .join(keys, Seq(key), "left_semi")
      .select(col("_gfile")).distinct().collect().map(_.getString(0))
    val (affected, untouched) = splitAffected(dirs, matchedFiles.toSeq)
    val kept =
      if (affected.isEmpty) source.limit(0)
      else s.read.parquet(affected: _*).join(keys, Seq(key), "left_anti")
    val out = kept.unionByName(source.select(kept.columns.map(col): _*))
    val n = latest + 1
    val newSub = s"d-m$n"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub, s"merge on $key")
    (n, affected, untouched)
  }

  /** Shared COW publish tail: validate the freshly-written merge dir
    * against the declared constraints (q363 — a merge may not smuggle in
    * rows an append would have refused), then OCC-publish the manifest
    * re-addressing {untouched dirs} ∪ {merge dir} with the constraint
    * set carried forward.
    */
  private def publishCow(s: SparkSession, dir: String, latest: Long, n: Long,
                         untouched: Seq[String], newSub: String,
                         head: String): Unit = {
    val cs = constraintsAt(s, dir, latest)
    val bad = violationCounts(s.read.parquet(s"$dir/$newSub"), cs)
      .filter(_._2 > 0)
    // the refusal names the actual operation (`head` carries it: merge,
    // delete, update, overwrite, SCD2 apply) — r11 advice
    if (bad.nonEmpty) throw new IllegalStateException(
      s"$head: output violates ${bad.map(_._1).mkString(", ")} — not published")
    val body = (Seq(head) ++
      (untouched :+ s"$dir/$newSub").map(d0 => s"data=$d0") ++
      cs.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
    if (!tryCommit(s, dir, n, body))
      throw new java.util.ConcurrentModificationException(
        s"version $n was committed concurrently at $dir — rebase and retry")
  }

  /** COPY-ON-WRITE DELETE — [[merge]]'s destructive sibling: rows where
    * `predicate` is TRUE leave the table (UNKNOWN/NULL rows stay, SQL
    * DELETE semantics); only the data dirs that CONTAIN matching rows
    * rewrite, every other dir re-addresses untouched. A predicate that
    * matches nothing publishes NOTHING (no empty churn version). The
    * deleted bytes still exist in EARLIER versions' dirs — time travel
    * can resurrect them by design — so a compliance erasure pairs this
    * with [[expireSnapshots]] + [[vacuum]] (q371): delete, then retire
    * the snapshots that could still address the old bytes.
    */
  def deleteWhere(s: SparkSession, dir: String,
                  predicate: String): (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, expr, input_file_name, lit, not}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val dirs = resolveDataDirs(s, dir, latest)
    val matchedFiles = s.read.parquet(dirs: _*)
      .filter(expr(predicate))
      .select(input_file_name().as("_gfile")).distinct()
      .collect().map(_.getString(0))
    if (matchedFiles.isEmpty) return (latest, Nil, dirs)
    val (affected, untouched) = splitAffected(dirs, matchedFiles.toSeq)
    val n = latest + 1
    val newSub = s"d-d$n"
    s.read.parquet(affected: _*)
      .filter(not(coalesce(expr(predicate), lit(false))))
      .write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub,
      s"delete where $predicate")
    (n, affected, untouched)
  }

  /** COPY-ON-WRITE UPDATE — [[deleteWhere]]'s non-destructive sibling
    * and the last of the DML trio (merge q366, delete q256/q384): rows
    * where `predicate` is TRUE get `sets` (column → SQL expression)
    * applied, every other row — including UNKNOWN/NULL predicate rows,
    * SQL UPDATE semantics — survives byte-identical. Assignment RHSes
    * all evaluate against the PRE-update row (one SELECT, not chained
    * withColumn — `SET a = b, b = a` swaps, as the standard requires)
    * and are cast back to the column's declared type so an update can
    * never retype the table out from under the schema gate (q373).
    * Only dirs CONTAINING matching rows rewrite; a predicate matching
    * nothing publishes nothing. Constraint validation and OCC publish
    * are [[publishCow]]'s.
    */
  def updateWhere(s: SparkSession, dir: String, predicate: String,
                  sets: Seq[(String, String)])
      : (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, input_file_name, lit, when}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    requireUniformParquet(s, dir, latest, "UPDATE")
    val dirs = resolveDataDirs(s, dir, latest)
    val matchedFiles = s.read.parquet(dirs: _*)
      .filter(expr(predicate))
      .select(input_file_name().as("_gfile")).distinct()
      .collect().map(_.getString(0))
    if (matchedFiles.isEmpty) return (latest, Nil, dirs)
    val (affected, untouched) = splitAffected(dirs, matchedFiles.toSeq)
    val old = s.read.parquet(affected: _*)
    val setMap = sets.toMap
    require(setMap.size == sets.size, "duplicate assignment target")
    sets.foreach { case (c, _) =>
      require(old.columns.contains(c), s"unknown column $c") }
    val hit = coalesce(expr(predicate), lit(false))
    val out = old.select(old.schema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(e) =>
          when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name))
            .as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
    val n = latest + 1
    val newSub = s"d-u$n"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub,
      s"update where $predicate")
    (n, affected, untouched)
  }

  /** PREDICATE-SCOPED OVERWRITE — Delta's `replaceWhere` / SQL
    * `INSERT OVERWRITE`: one atomic version in which rows matching
    * `predicate` are REPLACED by `source` and everything else survives.
    * `predicate = "true"` is the full truncate-and-load (no discovery
    * scan — every dir is affected by definition). Source rows must
    * themselves satisfy the predicate (Delta's replaceWhere contract:
    * a row OUTSIDE the replaced region would make the operation
    * non-idempotent and silently clobber unrelated data on replay) —
    * strays refuse before any write. Affected-dir discovery, COW
    * rewrite of survivors, constraint validation, and OCC publish all
    * follow [[deleteWhere]]/[[merge]]: untouched dirs re-address
    * byte-identically, so a partition-scoped reload of a 100 TB estate
    * costs O(replaced region + new data), never O(table).
    */
  def overwriteWhere(s: SparkSession, dir: String, predicate: String,
                     source: DataFrame): (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, input_file_name, lit, not}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    // truncate never reads the old snapshot, so ANY format truncates;
    // a predicate-scoped overwrite must scan survivors — parquet only
    if (predicate != "true") requireUniformParquet(s, dir, latest, "overwrite")
    val dirs = resolveDataDirs(s, dir, latest)
    val (affected, untouched) =
      if (predicate == "true") (dirs, Seq.empty[String])
      else {
        val matchedFiles = s.read.parquet(dirs: _*)
          .filter(expr(predicate))
          .select(input_file_name().as("_gfile")).distinct()
          .collect().map(_.getString(0))
        splitAffected(dirs, matchedFiles.toSeq)
      }
    if (predicate != "true") {
      val stray = source
        .filter(not(coalesce(expr(predicate), lit(false))))
        .limit(1).count()
      require(stray == 0,
        s"overwrite source contains rows not matching: $predicate")
    }
    val kept =
      if (affected.isEmpty || predicate == "true") source.limit(0)
      else s.read.parquet(affected: _*)
        .filter(not(coalesce(expr(predicate), lit(false))))
    val out = kept.unionByName(source.select(kept.columns.map(col): _*))
    val n = latest + 1
    val newSub = s"d-o$n"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub,
      s"overwrite where $predicate")
    (n, affected, untouched)
  }

  /** SCD2 APPLY — the type-2 upsert a CDC stream drives into a slowly
    * changing dimension (Kimball's SCD2, the warehouse pattern q176/q350
    * READ): each arriving (key, attrs, ts) change CLOSES the key's open
    * row (end_ts := first arriving ts) and appends one interval row per
    * change, chained in (ts, tiebreak) order with the last left open
    * (end_ts NULL). Semantics are append-monotonic: a batch carrying a
    * change at-or-before an existing interval's start for its key
    * REFUSES before any write (the late-data dead-letter contract,
    * q372 — SCD2 history is order-derived, silently splicing a late
    * change would rewrite history). Rewrite granularity, affected-dir
    * discovery, constraint validation, and OCC publish follow
    * [[merge]]; `head` lands verbatim (streaming callers put their
    * `epoch=` idempotence marker there, the q252/q367 convention).
    *
    * Scale: per batch — one semi-join discovery pass, O(affected dirs +
    * batch) rewrite; the interval chaining is a window PARTITIONED BY
    * key over the batch only, never over the dimension.
    */
  def applyScd2(s: SparkSession, dir: String, batch: DataFrame, key: String,
                tsCol: String, tieCol: String, head: String)
      : (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lead, min}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    requireUniformParquet(s, dir, latest, "SCD2 apply")
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieCol))
    val iv = batch
      .withColumn("start_ts", col(tsCol))
      .withColumn("end_ts", lead(col(tsCol), 1).over(w))
      .drop(tsCol, tieCol)
    val firstNew = batch.groupBy(col(key))
      .agg(min(col(tsCol)).as("_first"))
    val dirs = resolveDataDirs(s, dir, latest)
    val matchedFiles =
      if (dirs.isEmpty) Array.empty[String]
      else s.read.parquet(dirs: _*)
        .select(col(key), input_file_name().as("_gfile"))
        .join(firstNew.select(col(key)), Seq(key), "left_semi")
        .select(col("_gfile")).distinct().collect().map(_.getString(0))
    val (affected, untouched) = splitAffected(dirs, matchedFiles.toSeq)
    val closed =
      if (affected.isEmpty) iv.limit(0)
      else {
        val aff = s.read.parquet(affected: _*)
        val late = aff.join(broadcast(firstNew), Seq(key))
          .filter(col("start_ts") >= col("_first")).limit(1).count()
        require(late == 0,
          s"SCD2 apply carries changes at-or-before existing history " +
            s"for some $key — route to the dead letter, never splice")
        aff.join(broadcast(firstNew), Seq(key), "left")
          .withColumn("end_ts",
            org.apache.spark.sql.functions.when(
              col("_first").isNotNull && col("end_ts").isNull,
              col("_first")).otherwise(col("end_ts")))
          .drop("_first")
      }
    val out = closed.unionByName(iv.select(closed.columns.map(col): _*))
    val n = latest + 1
    val newSub = s"d-s$n"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub, head)
    (n, affected, untouched)
  }

  /** GATED BATCH APPEND — the SQL `INSERT INTO` path: the increment
    * stages under a WRITER-UNIQUE `v=<n>-<token>` dir (two racing
    * INSERTs can never interleave parquet files into one staged dir —
    * r11 advice), must pass BOTH write-time gates — the schema gate
    * (q373, one footer read) and every declared constraint (q363, one
    * aggregate pass over the increment) — and publishes through
    * [[tryCommit]]. Appends are COMMUTATIVE, so a lost race REBASES
    * instead of failing: the staged dir is reused verbatim (no I/O on
    * retry), the body re-addresses the new latest snapshot, the
    * constraint set re-reads in case a concurrent ALTER tightened it,
    * and the next version slot is attempted — bounded by `maxRebases`,
    * after which [[java.util.ConcurrentModificationException]] surfaces
    * (the q284 contract). A gate refusal throws with every problem
    * named and leaves NO manifest: readers keep the previous snapshot
    * and the staged dir is a vacuumable orphan. An INSERT into an empty
    * declared table publishes version 1.
    */
  def appendBatch(s: SparkSession, dir: String, source: DataFrame,
                  meta: String, maxRebases: Int = 16): Long = {
    val sub = s"v=${latestCommitted(s, dir).getOrElse(0L) + 1}-" +
      java.util.UUID.randomUUID.toString.take(8)
    source.write.mode("overwrite").parquet(s"$dir/$sub")
    val staged = s.read.parquet(s"$dir/$sub")
    val schemaProblems = readSchema(s, dir) match {
      case None => Nil // no declared contract: footer gate inactive
      case Some(declared) => conformProblems(declared, staged.schema)
    }
    if (schemaProblems.nonEmpty) throw new IllegalStateException(
      s"append refused: ${schemaProblems.mkString("; ")}")
    var rebases = 0
    while (true) {
      val n = latestCommitted(s, dir).getOrElse(0L) + 1
      val cs = constraints(s, dir)
      val bad = violationCounts(staged, cs).filter(_._2 > 0)
      if (bad.nonEmpty) throw new IllegalStateException(
        "append refused: " + bad.map { case (nm, c) =>
          s"constraint $nm violated by $c staged rows" }.mkString("; "))
      val body = (Seq(meta) ++
        (carriedDataLines(s, dir) :+ s"data=$dir/$sub") ++
        cs.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
      if (tryCommit(s, dir, n, body)) return n
      rebases += 1
      if (rebases > maxRebases)
        throw new java.util.ConcurrentModificationException(
          s"append at $dir lost $rebases commit races — " +
            s"staged $sub left for vacuum")
    }
    throw new IllegalStateException("unreachable")
  }

  /** FIXED-SLOT OCC append: stage `source` under a writer-unique dir and
    * try to publish it as EXACTLY version `n` on top of snapshot `n-1` —
    * the idempotent-append primitive for writers whose batch content is
    * DETERMINISTIC given the base snapshot (the committed-ANN-index
    * lifecycle: two racers staging the same arrivals under the same
    * frozen quantizer). Where [[appendBatch]] rebases and commits at the
    * NEXT free slot (each racer lands its own batch), tryAppendAt treats
    * a lost race as "this batch is already committed": exactly one racer
    * publishes slot `n`, every loser returns false with its stage left
    * for [[vacuum]], and duplicate rows are impossible by construction
    * (r12 ADVICE #3 — the check-then-act `latestCommitted` guard alone
    * let two threads both append). Returns true iff THIS writer
    * published `n`. Refuses (exception) on schema/constraint violations,
    * exactly like appendBatch; returns false without staging if `n-1`
    * is not the latest committed snapshot.
    */
  def tryAppendAt(s: SparkSession, dir: String, n: Long, source: DataFrame,
                  meta: String): Boolean = {
    if (!latestCommitted(s, dir).contains(n - 1)) return false
    requireUniformParquet(s, dir, n - 1, "tryAppendAt")
    val sub = s"v=$n-${java.util.UUID.randomUUID.toString.take(8)}"
    source.write.mode("overwrite").parquet(s"$dir/$sub")
    val staged = s.read.parquet(s"$dir/$sub")
    val schemaProblems = readSchema(s, dir) match {
      case None => Nil
      case Some(declared) => conformProblems(declared, staged.schema)
    }
    if (schemaProblems.nonEmpty) throw new IllegalStateException(
      s"append refused: ${schemaProblems.mkString("; ")}")
    val cs = constraints(s, dir)
    val bad = violationCounts(staged, cs).filter(_._2 > 0)
    if (bad.nonEmpty) throw new IllegalStateException(
      "append refused: " + bad.map { case (nm, c) =>
        s"constraint $nm violated by $c staged rows" }.mkString("; "))
    // carried lines are read from the latest snapshot; if a concurrent
    // commit advanced it past n-1 meanwhile, our tryCommit at slot n
    // fails (the slot is taken) — the carried set can never be stale in
    // a PUBLISHED manifest
    if (!latestCommitted(s, dir).contains(n - 1)) return false
    val body = (Seq(meta) ++
      (carriedDataLines(s, dir) :+ s"data=$dir/$sub") ++
      cs.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
    tryCommit(s, dir, n, body)
  }

  /** LAST-WRITER-WINS merge — the CDC-apply flavor of [[merge]]: a
    * matched key keeps whichever row wins on the `orderCols` tuple
    * (event time + a unique tiebreaker make it a TOTAL order), so the
    * operation is COMMUTATIVE across batches — replays, out-of-order
    * micro-batches, and arbitrary file→batch assignment all converge to
    * the same table, which is what lets a streaming upsert be verified
    * against a batch oracle at all. In-batch duplicates fold first
    * (lexicographic max over the packed (orderCols ++ rest) struct — the
    * same total order, applied map-side). Rewrite granularity, affected-
    * dir discovery, constraint validation, and OCC publish are exactly
    * [[merge]]'s; `head` lands verbatim in the manifest body (the
    * streaming caller writes its `epoch=<n>` idempotence marker there).
    */
  def mergeLww(s: SparkSession, dir: String, source: DataFrame, key: String,
               orderCols: Seq[String], head: String)
      : (Long, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, greatest, input_file_name, max, struct}
    val latest = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val rest = source.columns.filterNot(c =>
      c == key || orderCols.contains(c)).toSeq
    val packed = (orderCols ++ rest).map(col)
    def pack(df: DataFrame, as: String): DataFrame =
      df.select(col(key), struct(packed: _*).as(as))
    val src = pack(source, "_s").groupBy(col(key)).agg(max(col("_s")).as("_s"))
    val dirs = resolveDataDirs(s, dir, latest)
    val matchedFiles = s.read.parquet(dirs: _*)
      .select(col(key), input_file_name().as("_gfile"))
      .join(src.select(col(key)), Seq(key), "left_semi")
      .select(col("_gfile")).distinct().collect().map(_.getString(0))
    val (affected, untouched) = splitAffected(dirs, matchedFiles.toSeq)
    val aff =
      if (affected.isEmpty) pack(source.limit(0), "_t")
      else pack(s.read.parquet(affected: _*), "_t")
    val out = aff.join(src, Seq(key), "full_outer")
      .select(col(key), greatest(col("_t"), col("_s")).as("_p"))
      .select(col(key) +: (orderCols ++ rest).map(c => col(s"_p.$c")): _*)
      .select(source.columns.map(col): _*)
    val n = latest + 1
    val newSub = s"d-m$n"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    publishCow(s, dir, latest, n, untouched, newSub, head)
    (n, affected, untouched)
  }

  /** MERGE WITH SNAPSHOT-ISOLATION CONFLICT DETECTION — the retry arm of
    * the OCC publish. [[merge]] throws on a lost race (q284's contract:
    * "rebase and retry"); this method IS that rebase, mechanized the way
    * a transactional table format resolves concurrent writers (Delta's
    * ConcurrentAppend/ConcurrentDeleteRead taxonomy, Iceberg's validation
    * of conflicting files, at this format's dir granularity).
    *
    * The writer stages ONCE against `baseVersion` (default: the snapshot
    * it reads now): affected-dir discovery, COW rewrite of exactly those
    * dirs, output landed under a writer-unique `d-c<base>-<token>` subdir
    * — decoupling data location from version number is what makes the
    * retry safe (two losers can never collide on a staging path). The
    * publish loop then walks every version committed since its base and
    * classifies it:
    *
    *  - a committed version REMOVED one of this writer's affected dirs →
    *    its staged `kept` rows are stale — TRUE write-write conflict,
    *    throws [[java.util.ConcurrentModificationException]]; the staged
    *    dir stays an orphan for [[vacuum]], readers never see it.
    *  - a committed version ADDED dirs containing any of this writer's
    *    source keys → the same rows were written concurrently (an insert
    *    race would otherwise land the key twice) — conflict, throws.
    *  - otherwise the histories are DISJOINT: rebase = re-address the
    *    latest snapshot's dirs minus this writer's affected set, re-check
    *    the staged output against the latest snapshot's declared
    *    constraints, and attempt the next version slot.
    *
    * Returns (committedVersion, rebases). The conflict walk costs
    * O(versions since base) manifest reads plus one key semi-join per
    * version that added data — never O(table); the staged rewrite is
    * never recomputed, so a rebase is manifest arithmetic, not I/O.
    */
  def mergeDetectingConflicts(s: SparkSession, dir: String, source: DataFrame,
      key: String, baseVersion: Option[Long] = None,
      maxRebases: Int = 5): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit}
    val base = baseVersion.orElse(latestCommitted(s, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    val dup = source.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dup == 0,
      s"merge source has duplicate $key values: ambiguous upsert")
    def norm(p: String): String = new Path(p).toUri.getPath
    val baseDirs = resolveDataDirs(s, dir, base)
    val keys = source.select(col(key))
    val matchedFiles = s.read.parquet(baseDirs: _*)
      .select(col(key), input_file_name().as("_gfile"))
      .join(keys, Seq(key), "left_semi")
      .select(col("_gfile")).distinct().collect().map(_.getString(0))
    val (affected, _) = splitAffected(baseDirs, matchedFiles.toSeq)
    val affNorm = affected.map(norm).toSet
    val kept =
      if (affected.isEmpty) source.limit(0)
      else s.read.parquet(affected: _*).join(keys, Seq(key), "left_anti")
    val out = kept.unionByName(source.select(kept.columns.map(col): _*))
    val newSub = s"d-c$base-${java.util.UUID.randomUUID.toString.take(8)}"
    out.write.mode("overwrite").parquet(s"$dir/$newSub")
    var rebases = 0L
    var attemptBase = base
    while (true) {
      val latest = latestCommitted(s, dir).getOrElse(attemptBase)
      if (latest != attemptBase) {
        var prevDirs = resolveDataDirs(s, dir, attemptBase).map(norm).toSet
        ((attemptBase + 1) to latest).foreach { v =>
          val vDirs = resolveDataDirs(s, dir, v)
          val vNorm = vDirs.map(norm).toSet
          val removedMine = (prevDirs -- vNorm).intersect(affNorm)
          if (removedMine.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"version $v rewrote ${removedMine.mkString(", ")} — this merge's " +
              s"affected dirs are stale; staged $newSub left for vacuum")
          val added = vDirs.filterNot(d0 => prevDirs.contains(norm(d0)))
          if (added.nonEmpty) {
            val hit = s.read.parquet(added: _*).select(col(key))
              .join(keys, Seq(key), "left_semi").limit(1).count()
            if (hit > 0) throw new java.util.ConcurrentModificationException(
              s"version $v committed rows sharing $key values with this " +
                s"merge's source — concurrent write-write; staged $newSub left for vacuum")
          }
          prevDirs = vNorm
        }
        rebases += 1
        if (rebases > maxRebases) throw new java.util.ConcurrentModificationException(
          s"merge at $dir exceeded $maxRebases rebases")
        attemptBase = latest
      }
      val untouched = resolveDataDirs(s, dir, attemptBase)
        .filterNot(d0 => affNorm.contains(norm(d0)))
      val cs = constraintsAt(s, dir, attemptBase)
      val bad = violationCounts(s.read.parquet(s"$dir/$newSub"), cs)
        .filter(_._2 > 0)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"merge output violates ${bad.map(_._1).mkString(", ")} — not published")
      val body = (Seq(s"merge on $key rebases=$rebases") ++
        (untouched :+ s"$dir/$newSub").map(d0 => s"data=$d0") ++
        cs.map { case (nm, p) => s"constraint=$nm:$p" }).mkString("\n")
      if (tryCommit(s, dir, attemptBase + 1, body))
        return (attemptBase + 1, rebases)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Per-file column-stats manifest lines for data landed under
    * `dataDir`: `stats=<fileName>:<min>:<max>` for one long-castable
    * column — Delta's stats-in-log / Iceberg's per-file column stats
    * reduced to the essence. Computed in ONE pass over the staged data
    * (a partial agg keyed by file), O(#files) rows collected, and meant
    * to ride the commit body so a selective reader can prune files from
    * the manifest ALONE — no footer opens, no data-dir listing beyond
    * the survivors ([[prunedFiles]]).
    */
  def fileStats(s: SparkSession, dataDir: String, colName: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    s.read.parquet(dataDir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(colName)).cast("long").as("lo"),
        max(col(colName)).cast("long").as("hi"))
      .collect()
      .map(r => s"stats=${new Path(r.getString(0)).getName}:" +
        s"${r.getLong(1)}:${r.getLong(2)}")
      .toSeq.sorted
  }

  /** COLUMN-NAMESPACED per-file stats — [[fileStats]] generalized to
    * several columns per commit (`colstats=<col>:<file>:<min>:<max>`
    * lines), the shape a multi-dimensional clustering rewrite (Z-order,
    * q369) needs: one layout, independent skipping on EVERY clustered
    * column. Same one-pass construction, one aggregate per call.
    */
  def fileStatsOn(s: SparkSession, dataDir: String,
                  colName: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    s.read.parquet(dataDir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(colName)).cast("long").as("lo"),
        max(col(colName)).cast("long").as("hi"))
      .collect()
      .map(r => s"colstats=$colName:${new Path(r.getString(0)).getName}:" +
        s"${r.getLong(1)}:${r.getLong(2)}")
      .toSeq.sorted
  }

  /** [[prunedFiles]] against the `colstats=` lines of ONE named column.
    * Refuses when the version carries no stats for that column — a
    * selective reader must never silently full-scan (q329's contract).
    */
  def prunedFilesOn(s: SparkSession, dir: String, n: Long, colName: String,
                    lo: Long, hi: Long): Seq[String] = {
    val f = fs(dir, s)
    val prefix = s"colstats=$colName:"
    val stats = manifestBody(f, dir, n).linesIterator
      .filter(_.startsWith(prefix)).map { line =>
        val Array(name, flo, fhi) = line.stripPrefix(prefix).split(":", 3)
        (name, flo.toLong, fhi.toLong)
      }.toSeq
    require(stats.nonEmpty,
      s"version $n at $dir carries no colstats= lines for $colName")
    val dirs = resolveDataDirs(s, dir, n)
    stats.filter { case (_, flo, fhi) => fhi >= lo && flo <= hi }
      .flatMap { case (name, _, _) =>
        dirs.map(d0 => new Path(d0, name)).find(f.exists).map(_.toString)
      }
  }

  /** [[prunedFilesOn]] for a POINT SET: the files of committed version
    * `n` whose `colstats=` [lo,hi] range contains AT LEAST ONE of
    * `values`. The IVF probed-cell read pattern: a serve touches a small
    * set of non-contiguous cell ids, so one [min,max] envelope over the
    * set would span nearly the whole table — each file is instead kept
    * iff some probed value stabs its recorded interval. Same refusal
    * contract as [[prunedFilesOn]]: no stats for the column ⇒ require
    * fails (callers gate on stats presence and fall back to a full read).
    */
  def prunedFilesOnSet(s: SparkSession, dir: String, n: Long,
                       colName: String, values: Seq[Long]): Seq[String] = {
    val f = fs(dir, s)
    val prefix = s"colstats=$colName:"
    val stats = manifestBody(f, dir, n).linesIterator
      .filter(_.startsWith(prefix)).map { line =>
        val Array(name, flo, fhi) = line.stripPrefix(prefix).split(":", 3)
        (name, flo.toLong, fhi.toLong)
      }.toSeq
    require(stats.nonEmpty,
      s"version $n at $dir carries no colstats= lines for $colName")
    val sorted = values.sorted
    val dirs = resolveDataDirs(s, dir, n)
    stats.filter { case (_, flo, fhi) =>
        // any value in [flo, fhi]? (sorted + binary search via the first
        // element >= flo)
        val i = java.util.Arrays.binarySearch(sorted.toArray, flo)
        val at = if (i >= 0) i else -i - 1
        at < sorted.length && sorted(at) <= fhi
      }
      .flatMap { case (name, _, _) =>
        dirs.map(d0 => new Path(d0, name)).find(f.exists).map(_.toString)
      }
  }

  /** Whether committed version `n` carries `colstats=` lines for
    * `colName` — the gate a selective reader checks before calling
    * [[prunedFilesOnSet]] (versions landed by plain appends carry no
    * stats; the reader then full-scans honestly until compaction
    * re-stats the table).
    */
  def hasColStats(s: SparkSession, dir: String, n: Long,
                  colName: String): Boolean =
    manifestBody(fs(dir, s), dir, n).linesIterator
      .exists(_.startsWith(s"colstats=$colName:"))

  /** Per-file BLOOM-FILTER manifest lines for data landed under `dataDir`:
    * `bloom=<fileName>:<bits>:<hexMask>` over one column — the point-lookup
    * complement of [[fileStats]]'s range stats (Delta/Parquet file-level
    * bloom indexes reduced to the essence). Range stats prune range
    * predicates on the LAYOUT column; a membership probe on any OTHER
    * high-cardinality column (the exact-dedup "does this text already
    * exist?" question) hits every file's [min,max] and prunes nothing —
    * the bloom answers it from the manifest alone.
    *
    * Built in ONE pass over the staged data (k=2 xxhash64 positions per
    * row exploded, per-file `collect_set` of ≤ `bits` small ints, O(#files)
    * rows collected); the probe side re-derives positions through the SAME
    * Spark expressions ([[bloomPrunedFiles]]), so writer and reader can
    * never disagree on the hash. False positives cost an extra file read,
    * never a wrong answer; false negatives cannot happen.
    */
  def fileBlooms(s: SparkSession, dataDir: String, colName: String,
                 bits: Int = 256): Seq[String] = {
    import org.apache.spark.sql.functions.{array, col, collect_set, explode, input_file_name, lit, pmod, xxhash64}
    val pos = (0 until BloomK).map(i =>
      pmod(xxhash64(col(colName), lit(i)), lit(bits)).cast("int"))
    s.read.parquet(dataDir)
      .select(input_file_name().as("f"), explode(array(pos: _*)).as("p"))
      .groupBy(col("f")).agg(collect_set(col("p")).as("ps"))
      .collect()
      .map { r =>
        val mask = r.getSeq[Int](1).foldLeft(java.math.BigInteger.ZERO)(_.setBit(_))
        val hex = mask.toString(16).reverse.padTo(bits / 4, '0').reverse
        s"bloom=${new Path(r.getString(0)).getName}:$bits:$hex"
      }.toSeq.sorted
  }

  private val BloomK = 2

  /** Manifest-only POINT-LOOKUP skipping: the files of committed version
    * `n` whose recorded bloom mask admits `value` in the bloomed column.
    * The probe's bit positions are computed by one 1-row Spark job over
    * the same `xxhash64(col, seed) pmod bits` expressions the writer used
    * — the hash implementation is shared by construction, not by contract.
    * Refuses when the version carries no bloom lines (mirror of
    * [[prunedFiles]]'s unstatted refusal: never silently full-scan).
    */
  def bloomPrunedFiles(s: SparkSession, dir: String, n: Long,
                       value: String): Seq[String] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val f = fs(dir, s)
    val blooms = manifestBody(f, dir, n).linesIterator
      .filter(_.startsWith("bloom=")).map { line =>
        val Array(name, b, hx) = line.stripPrefix("bloom=").split(":", 3)
        (name, b.toInt, new java.math.BigInteger(hx, 16))
      }.toSeq
    require(blooms.nonEmpty, s"version $n at $dir carries no bloom= lines")
    val bits = blooms.head._2
    require(blooms.forall(_._2 == bits),
      s"version $n at $dir mixes bloom widths")
    val probe = s.range(1).select((0 until BloomK).map(i =>
        pmod(xxhash64(lit(value), lit(i)), lit(bits)).cast("int").as(s"p$i")): _*)
      .head()
    val positions = (0 until BloomK).map(probe.getInt)
    val dirs = resolveDataDirs(s, dir, n)
    blooms.filter { case (_, _, mask) => positions.forall(mask.testBit) }
      .flatMap { case (name, _, _) =>
        dirs.map(d0 => new Path(d0, name)).find(f.exists).map(_.toString)
      }
  }

  /** Manifest-only data skipping: the files of committed version `n`
    * whose recorded [min, max] intersects `[lo, hi]`. Refuses when the
    * version carries no stats lines — a caller asking for pruning on an
    * unstatted version should hear it, not silently full-scan.
    */
  def prunedFiles(s: SparkSession, dir: String, n: Long,
                  lo: Long, hi: Long): Seq[String] = {
    val f = fs(dir, s)
    val stats = manifestBody(f, dir, n).linesIterator
      .filter(_.startsWith("stats=")).map { line =>
        val Array(name, flo, fhi) = line.stripPrefix("stats=").split(":", 3)
        (name, flo.toLong, fhi.toLong)
      }.toSeq
    require(stats.nonEmpty, s"version $n at $dir carries no stats= lines")
    val dirs = resolveDataDirs(s, dir, n)
    stats.filter { case (_, flo, fhi) => fhi >= lo && flo <= hi }
      .flatMap { case (name, _, _) =>
        dirs.map(d0 => new Path(d0, name))
          .find(f.exists).map(_.toString)
      }
  }

  private def manifestBody(f: FileSystem, dir: String, n: Long): String = {
    val in = f.open(new Path(new Path(dir, "_commits"), n.toString))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Audit metadata of committed version `n` — the manifest body minus
    * any `data=` addressing line (the operation description the writer
    * recorded at commit time, the DESCRIBE HISTORY payload).
    */
  def describe(s: SparkSession, dir: String, n: Long): String =
    manifestBody(fs(dir, s), dir, n).linesIterator
      .filterNot(_.startsWith("data=")).mkString("\n").trim

  /** Data FORMAT of committed version `n`: the manifest's `format=<fmt>`
    * line when present (the streaming write face lands JSON-lines part
    * files, [[VersionedStreamingWrite]]), else `parquet` — the layout the
    * batch writers use. Per-version, so a table may hold parquet history
    * with JSON stream epochs appended; each version reads in its own
    * format.
    */
  def formatOf(s: SparkSession, dir: String, n: Long): String =
    manifestBody(fs(dir, s), dir, n).linesIterator
      .find(_.startsWith("format=")).map(_.stripPrefix("format="))
      .getOrElse("parquet")

  /** Declared table schema, stored as a DDL string at `<dir>/_schema`
    * (underscore-prefixed: invisible to Spark's data-file listing).
    * Written by [[VersionedCatalog.createTable]]; required for JSON-format
    * versions (inference over JSON would silently widen types) and used as
    * the user-specified schema for every catalog read.
    */
  def readSchema(s: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(dir, s)
    val p = new Path(dir, "_schema")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val ddl =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(org.apache.spark.sql.types.StructType.fromDDL(ddl))
    }
  }

  def writeSchema(s: SparkSession, dir: String,
                  schema: org.apache.spark.sql.types.StructType): Unit = {
    val f = fs(dir, s)
    f.mkdirs(new Path(dir))
    val out = f.create(new Path(dir, "_schema"), true)
    try out.write(schema.toDDL.getBytes("UTF-8")) finally out.close()
  }

  /** Timestamp travel resolution: the newest version whose COMMIT TIME
    * (the manifest file's modification time — the instant the rename made
    * it visible) is ≤ `tsMillis`. Refused when nothing was committed yet
    * at that time, mirroring [[readAt]]'s uncommitted-version refusal.
    */
  def versionAtTimestamp(s: SparkSession, dir: String, tsMillis: Long): Long = {
    val f = fs(dir, s)
    val commits = new Path(dir, "_commits")
    if (!f.exists(commits))
      throw new IllegalStateException(s"no committed version at $dir")
    val eligible = f.listStatus(commits).toSeq
      .filter(_.getPath.getName.matches("[0-9]+"))
      .filter(_.getModificationTime <= tsMillis)
      .map(_.getPath.getName.toLong)
    if (eligible.isEmpty)
      throw new IllegalStateException(
        s"no version at $dir was committed at or before timestamp $tsMillis")
    eligible.max
  }

  /** Data directory of committed version `n`: the `data=<subdir>` manifest
    * line when present (log-format addressing, [[tryCommit]]), else the
    * positional `v=<n>` layout the plain [[commit]] path uses. Single-dir
    * view of [[resolveDataDirs]] for the one-dir-per-version callers.
    */
  def resolveDataDir(s: SparkSession, dir: String, n: Long): String =
    resolveDataDirs(s, dir, n).head

  /** ALL data directories of committed version `n` — the manifest's
    * `data=` lines generalize from one positional dir to a LIST of dirs,
    * each either table-relative (`data=d-x`) or EXTERNAL by absolute
    * address (`data=/other/table/v=1`). This is the directory-granularity
    * essence of a table format's manifest file list, and the hook SHALLOW
    * CLONE rides on (q307): a clone's manifest references the source
    * table's committed dirs without copying a byte, and a later append
    * lists {source dirs} ∪ {clone-local delta dir}. No `data=` line means
    * the positional `v=<n>` layout.
    */
  def resolveDataDirs(s: SparkSession, dir: String, n: Long): Seq[String] =
    resolveDataDirsWithFormat(s, dir, n).map(_._1)

  /** [[resolveDataDirs]] with each dir's DATA FORMAT: a `data=` line may
    * carry a per-dir override suffix `;format=<fmt>` (a parquet correction
    * batch APPENDED to a JSON-epoch table — the mixed-format estate every
    * streaming lakehouse passes through between arrival and compaction);
    * dirs without the suffix inherit the version's [[formatOf]] default.
    * [[readAt]] dispatches per GROUP of same-format dirs, so batch reads,
    * time travel, and the vacuum's referenced-set all stay correct on
    * mixed tables.
    */
  def resolveDataDirsWithFormat(s: SparkSession, dir: String,
                                n: Long): Seq[(String, String)] = {
    val body = manifestBody(fs(dir, s), dir, n)
    val default = body.linesIterator
      .find(_.startsWith("format=")).map(_.stripPrefix("format="))
      .getOrElse("parquet")
    val subs = body.linesIterator.toSeq
      .filter(_.startsWith("data=")).map(_.stripPrefix("data="))
    if (subs.isEmpty) Seq(s"$dir/v=$n" -> default)
    else subs.map { line =>
      val (sub, fmt) = line.split(";format=", 2) match {
        case Array(d0, f0) => (d0, f0)
        case _ => (line, default)
      }
      (if (sub.startsWith("/")) sub else s"$dir/$sub") -> fmt
    }
  }

  /** Whether committed version `n` CHANGED the table's row set — false iff
    * the manifest carries a `dataChange=false` line (compaction and other
    * pure rewrites: same rows, new layout). Streaming subscribers skip
    * non-data-change versions entirely — a compaction must never replay
    * the whole table into every subscriber — while batch readers are
    * unaffected (they read snapshots, not deltas).
    */
  def dataChange(s: SparkSession, dir: String, n: Long): Boolean =
    !manifestBody(fs(dir, s), dir, n).linesIterator
      .exists(_.trim == "dataChange=false")

  /** RELEASE TAG: a named, IMMUTABLE ref (`<dir>/_refs/<name>`, one tiny
    * file holding a committed version number) — "the corpus release the
    * 7B run trained on" as a first-class address, so a dataset card
    * (q295) or a reproduction names `release-2026-08` instead of a raw
    * manifest id. Tag names must start with a letter (never ambiguous
    * with numeric version ids in `VERSION AS OF`); tagging an uncommitted
    * version refuses (a tag can never dangle); re-tagging an existing
    * name refuses via the same exclusive-create that serializes
    * [[tryCommit]] — release tags are immutable by construction, which is
    * exactly what makes them citable.
    */
  def tag(s: SparkSession, dir: String, name: String, n: Long): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"tag name '$name' must start with a letter")
    if (!committedVersions(s, dir).contains(n))
      throw new IllegalStateException(
        s"cannot tag $name: version $n at $dir is not committed")
    val f = fs(dir, s)
    val refs = new Path(dir, "_refs")
    f.mkdirs(refs)
    val dst = new Path(refs, name)
    val out =
      try f.create(dst, false)
      catch { case e: java.io.IOException =>
        if (f.exists(dst)) throw new IllegalStateException(
          s"tag $name already exists at $dir (tags are immutable)")
        else throw e
      }
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The version a tag names, or None for an unknown tag. */
  def resolveRef(s: SparkSession, dir: String, name: String): Option[Long] = {
    val f = fs(dir, s)
    val p = new Path(new Path(dir, "_refs"), name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some(body.toLong)
    }
  }

  /** All tags, name → version. O(#tags) tiny file reads. */
  def refs(s: SparkSession, dir: String): Map[String, Long] = {
    val f = fs(dir, s)
    val p = new Path(dir, "_refs")
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(name => resolveRef(s, dir, name).map(name -> _)).toMap
  }

  /** BRANCHES: named MUTABLE refs (vs [[tag]]'s immutable releases) —
    * Iceberg branches / Git refs reduced to the essence. A branch is its
    * own tiny OCC log `_branches/<name>/<seq>` (each file holds a table
    * version number; head = highest seq), so advancing the pointer
    * inherits [[tryCommit]]'s serialization for free: exactly one writer
    * creates `<seq+1>` (exclusive create), every loser sees `false` and
    * rebases — no lock service, and the full pointer HISTORY stays
    * auditable (who pointed where, in order). Branch moves are POINTER
    * operations: O(1) tiny-file writes against any table size, like
    * tags/rollback (q292/q339's discipline). The write-audit-publish
    * pattern composes: stage experimental versions, advance the `exp`
    * branch as they land, and only fast-forward `main` (one advance)
    * after the audit passes — readers of `main` never see a version that
    * hasn't cleared the gate.
    */
  def createBranch(s: SparkSession, dir: String, name: String, n: Long): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9._-]*"),
      s"branch name '$name' must start with a letter")
    if (!committedVersions(s, dir).contains(n))
      throw new IllegalStateException(
        s"cannot branch $name: version $n at $dir is not committed")
    val f = fs(dir, s)
    val b = new Path(new Path(dir, "_branches"), name)
    f.mkdirs(b)
    val out =
      try f.create(new Path(b, "0"), false)
      catch { case e: java.io.IOException =>
        if (f.exists(new Path(b, "0"))) throw new IllegalStateException(
          s"branch $name already exists at $dir")
        else throw e
      }
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Branch head as (seq, table version), or None for an unknown branch. */
  def branchHead(s: SparkSession, dir: String, name: String): Option[(Long, Long)] = {
    val log = branchLog(s, dir, name)
    if (log.isEmpty) None else Some(log.last)
  }

  /** The branch's full pointer history, (seq, version) ascending. */
  def branchLog(s: SparkSession, dir: String, name: String): Seq[(Long, Long)] = {
    val f = fs(dir, s)
    val b = new Path(new Path(dir, "_branches"), name)
    if (!f.exists(b)) Seq.empty
    else f.listStatus(b).toSeq.map(_.getPath.getName)
      .filter(_.matches("[0-9]+")).map(_.toLong).sorted
      .map { seq =>
        val in = f.open(new Path(b, seq.toString))
        val v =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
          finally in.close()
        (seq, v)
      }
  }

  /** CAS-advance the branch pointer: succeeds iff the head is still at
    * `expectedSeq` (exclusive create of `<expectedSeq+1>` — the loser of a
    * race sees false and rebases, exactly [[tryCommit]]'s contract).
    * Advancing to an uncommitted version refuses — a branch can never
    * dangle, matching [[tag]].
    */
  def advanceBranch(s: SparkSession, dir: String, name: String,
                    expectedSeq: Long, n: Long): Boolean = {
    if (!committedVersions(s, dir).contains(n))
      throw new IllegalStateException(
        s"cannot advance $name: version $n at $dir is not committed")
    val f = fs(dir, s)
    val b = new Path(new Path(dir, "_branches"), name)
    if (!f.exists(b))
      throw new IllegalStateException(s"branch $name does not exist at $dir")
    val dst = new Path(b, (expectedSeq + 1).toString)
    val out =
      try f.create(dst, false)
      catch { case e: java.io.IOException =>
        if (f.exists(dst)) return false else throw e
      }
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    true
  }

  /** All branches, name → head version. O(#branches) tiny-file reads. */
  def branches(s: SparkSession, dir: String): Map[String, Long] = {
    val f = fs(dir, s)
    val p = new Path(dir, "_branches")
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .flatMap(name => branchHead(s, dir, name).map { case (_, v) => name -> v })
      .toMap
  }

  /** SNAPSHOT EXPIRY — Iceberg's expire_snapshots reduced to the essence:
    * versions older than the newest `keepLast` are retired UNLESS a ref
    * still names them (release tags and branch HEADS pin their targets —
    * a citable snapshot can never expire out from under its citation).
    * For each expired version the manifest file is removed FIRST (time
    * travel refuses from that instant — crash between the two deletes
    * leaves only unreferenced data for [[vacuum]]-style cleanup, never a
    * readable version with missing files), then its data dirs that no
    * SURVIVING version references are deleted — cumulative manifests mean
    * an old append dir usually lives on inside newer snapshots and MUST
    * survive. Returns the expired version ids.
    *
    * Scale: pointer/manifest work is O(#versions + #refs) tiny files;
    * data deletion touches only dirs that became unreachable — the
    * storage this op exists to reclaim.
    */
  def expireSnapshots(s: SparkSession, dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(dir, s)
    val all = committedVersions(s, dir)
    val keep = all.takeRight(keepLast).toSet ++
      refs(s, dir).values ++ branches(s, dir).values
    val liveDirs = keep.flatMap(n => resolveDataDirs(s, dir, n))
    val expired = all.filterNot(keep)
    expired.foreach { n =>
      val dead = resolveDataDirs(s, dir, n).toSet -- liveDirs
      f.delete(new Path(new Path(dir, "_commits"), n.toString), false)
      dead.foreach(d0 => f.delete(new Path(d0), true))
    }
    expired
  }

  /** Highest committed version, or None for an empty table. Listing cost
    * is O(#versions) tiny manifest names — never the data directories.
    */
  def latestCommitted(s: SparkSession, dir: String): Option[Long] = {
    val f = fs(dir, s)
    val commits = new Path(dir, "_commits")
    if (!f.exists(commits)) None
    else {
      val ns = f.listStatus(commits).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("[0-9]+"))
        .map(_.toLong)
      if (ns.isEmpty) None else Some(ns.max)
    }
  }

  /** Plan-time snapshot resolution: read the newest committed version.
    * The version is pinned when THIS DataFrame is constructed — a commit
    * landing afterwards does not retarget an already-planned read (the
    * snapshot-isolation contract).
    */
  def readLatest(s: SparkSession, dir: String): DataFrame = {
    val n = latestCommitted(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    readAt(s, dir, n)
  }

  /** Time travel: read a SPECIFIC committed version. Reading an
    * uncommitted version is refused — an in-flight or vacuumed writer's
    * data is never addressable, at any version number. The version's
    * manifest `format=` line picks the decoder (parquet default; JSON for
    * stream-landed epochs, read with the declared `_schema` so types
    * never drift by inference).
    */
  def readAt(s: SparkSession, dir: String, n: Long): DataFrame = {
    val f = fs(dir, s)
    if (!f.exists(new Path(new Path(dir, "_commits"), n.toString)))
      throw new IllegalStateException(s"version $n at $dir is not committed")
    // dirs group by FORMAT (per-dir `;format=` override, else the
    // version's default) — a mixed-format snapshot (JSON epochs + an
    // appended parquet correction batch) reads as the union of the
    // same-format groups; single-format tables hit one branch, unchanged
    def readGroup(fmt: String, dirs: Seq[String]): DataFrame = fmt match {
      case "json" =>
        val r = readSchema(s, dir).map(s.read.schema).getOrElse(s.read)
        r.json(dirs: _*)
      case _ => s.read.parquet(dirs: _*)
    }
    resolveDataDirsWithFormat(s, dir, n)
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (fmt, ds) => readGroup(fmt, ds.map(_._1)) }
      .reduce(_ unionByName _)
  }

  /** All committed versions, ascending. */
  def committedVersions(s: SparkSession, dir: String): Seq[Long] = {
    val f = fs(dir, s)
    val commits = new Path(dir, "_commits")
    if (!f.exists(commits)) Seq.empty
    else f.listStatus(commits).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("[0-9]+"))
      .map(_.toLong).sorted
  }

  /** Garbage-collect ORPHAN data directories — `v=K` dirs whose manifest
    * never committed (a failed or abandoned rewrite). Committed versions
    * are never touched: time travel to any committed N keeps working
    * after a vacuum. Returns the orphan versions removed.
    *
    * Safety at scale: the only coordination is the manifest listing; a
    * writer mid-flight is only vulnerable between landing its last data
    * file and its commit rename, which is why real estates gate vacuum
    * on a retention age — the hook is the place an age check goes; the
    * reclaim logic is unchanged by it.
    */
  private[sources] def hadoopFs(dir: String, s: SparkSession): FileSystem =
    fs(dir, s)

  def vacuum(s: SparkSession, dir: String,
             stageRetainMs: Long = 0L): Seq[Long] = {
    val f = fs(dir, s)
    val committed = committedVersions(s, dir).toSet
    val root = new Path(dir)
    if (!f.exists(root)) return Seq.empty
    val entries = f.listStatus(root).toSeq.map(_.getPath)
    val orphans = entries
      .filter(p => p.getName.startsWith("v="))
      .flatMap { p =>
        val n = p.getName.stripPrefix("v=")
        if (n.matches("[0-9]+") && !committed.contains(n.toLong))
          Some(n.toLong -> p)
        else None
      }
    orphans.foreach { case (_, p) => f.delete(p, true) }
    // log-format staging dirs (`d-*`, [[tryCommit]]): reclaim the ones no
    // committed manifest references — a lost optimistic attempt's files.
    // Referenced-set cost is O(#versions) tiny manifest reads. The
    // protected name is the FIRST path segment under the table dir (a
    // nested `data=d-x/part` manifest must protect `d-x`, not `part`).
    // external (absolute, other-table) references are not local names and
    // are skipped — a clone can never anchor garbage in ITS OWN dir, and
    // this table's vacuum never reasons about another table's dirs
    val referenced = committed.flatMap(n =>
      resolveDataDirs(s, dir, n)
        .filter(_.startsWith(s"$dir/"))
        .map(_.stripPrefix(dir).stripPrefix("/").split('/').head))
    // Token-staged dirs (`d-*` and `v=<n>-<token>`) are UNREFERENCED from
    // the moment a writer lands them until its tryCommit wins — and
    // appendBatch's rebase loop (constraint re-scan per round) makes that
    // window long (r12 ADVICE #2). `stageRetainMs` gates their
    // reclamation on an mtime age: a concurrent vacuum with a real
    // retention (estates: >= the longest plausible commit latency) can
    // never delete an in-flight writer's stage out from under its
    // winning commit. The 0 default reclaims immediately — correct only
    // when the caller KNOWS no writer is in flight (specs, the
    // single-threaded q249 maintenance pass).
    val cutoff = System.currentTimeMillis() - stageRetainMs
    entries
      .filter { p =>
        val nm = p.getName
        // writer-unique append stages (`v=<n>-<token>`, [[appendBatch]])
        // are reclaimed by the same referenced-set rule as `d-*`
        (nm.startsWith("d-") ||
          (nm.startsWith("v=") &&
            !nm.stripPrefix("v=").matches("[0-9]+"))) && !referenced(nm) &&
          (stageRetainMs <= 0L ||
            f.getFileStatus(p).getModificationTime <= cutoff)
      }
      .foreach(p => f.delete(p, true))
    // `.tmp` bodies in _commits (tryCommit's writer-unique staging): a
    // crash between the body write and the createLink publish strands one
    // forever (r13 ADVICE #3) — filtered from version listing but never
    // reclaimed until here. Same retention gate as data stages: an
    // in-flight writer's tmp is younger than any sane stageRetainMs.
    val commits = new Path(dir, "_commits")
    if (f.exists(commits)) {
      f.listStatus(commits).toSeq
        .filter(st => st.getPath.getName.endsWith(".tmp") &&
          (stageRetainMs <= 0L || st.getModificationTime <= cutoff))
        .foreach(st => f.delete(st.getPath, false))
    }
    orphans.map(_._1).sorted
  }
}

/** Catalog-level snapshot pinning across MULTIPLE versioned tables — the
  * multi-table-transaction concept single-table formats lack: each table
  * under `<root>/<table>/` is its own [[VersionedManifest]], and a catalog
  * version `_catalog/M` (one file, atomic-renamed) pins one committed
  * version PER table. Readers resolve the newest catalog pin and then time
  * travel each table to ITS pinned version, so a multi-table update — land
  * table A's new version, land table B's new version, then publish one
  * catalog pin — is invisible until the single catalog rename: a reader can
  * never observe A's new version joined against B's old one, even though
  * both table-level commits already landed.
  *
  * Pin-file body is `table=version` lines, sorted — audit-greppable and
  * oracle-replayable. Commit validates every pinned version is committed in
  * its table (a catalog can never point at an orphan).
  */
object SnapshotCatalog {

  private def catDir(root: String) = new Path(root, "_catalog")

  /** Publish catalog version `m` pinning `pins` (table → version). */
  def commit(s: SparkSession, root: String, m: Long,
             pins: Map[String, Long]): Unit = {
    pins.foreach { case (t, v) =>
      if (!VersionedManifest.committedVersions(s, s"$root/$t").contains(v))
        throw new IllegalStateException(
          s"catalog $m pins $t=$v, which is not a committed version")
    }
    val f = VersionedManifest.hadoopFs(root, s)
    f.mkdirs(catDir(root))
    val body = pins.toSeq.sorted.map { case (t, v) => s"$t=$v" }.mkString("\n")
    val tmp = new Path(catDir(root), s".$m.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, new Path(catDir(root), m.toString)))
      throw new IllegalStateException(
        s"catalog commit $m at $root lost a rename race")
  }

  /** Highest committed catalog version, or None. */
  def latest(s: SparkSession, root: String): Option[Long] = {
    val f = VersionedManifest.hadoopFs(root, s)
    if (!f.exists(catDir(root))) None
    else {
      val ns = f.listStatus(catDir(root)).toSeq.map(_.getPath.getName)
        .filter(_.matches("[0-9]+")).map(_.toLong)
      if (ns.isEmpty) None else Some(ns.max)
    }
  }

  /** The table→version pins of catalog version `m`. */
  def pins(s: SparkSession, root: String, m: Long): Map[String, Long] = {
    val f = VersionedManifest.hadoopFs(root, s)
    val p = new Path(catDir(root), m.toString)
    if (!f.exists(p))
      throw new IllegalStateException(s"catalog version $m at $root is not committed")
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.split("\n").filter(_.contains("=")).map { line =>
      val Array(t, v) = line.split("=", 2)
      t -> v.toLong
    }.toMap
  }

  /** Read `table` as pinned by catalog version `m`. */
  def readAt(s: SparkSession, root: String, m: Long, table: String): DataFrame = {
    val v = pins(s, root, m).getOrElse(table,
      throw new IllegalStateException(s"catalog $m does not pin $table"))
    VersionedManifest.readAt(s, s"$root/$table", v)
  }
}
