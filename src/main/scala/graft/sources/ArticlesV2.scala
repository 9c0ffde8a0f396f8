package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import graft.QueryModule
import graft.GraftSession.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull, IsNull, StringContains, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A genuine DataSource V2 connector for the reference's landed article
  * corpora — the SOURCE-side rung of the §2.10 extension ladder (scalar
  * Expression → Aggregator → Generator → whole-operator plan → source).
  * Where [[ArticleSource]] composes Spark's built-in JSON reader, this is
  * the connector a paginated upstream (the reference's selenium scraper,
  * `main.py:26-148`) would actually get: a `TableProvider` whose scan
  * plans ONE InputPartition per corpus (the unit the upstream paginates
  * by), prunes columns, and pushes filters into the reader so rows are
  * dropped AT THE SOURCE — never materialized into Spark's memory, the
  * behavior that matters when the source is remote and metered.
  *
  * Surface: `spark.read.format("graft.sources.ArticleSourceV2")
  * .option("corpus", "all" | comma-list).load()`; schema is the canonical
  * 11-column article schema, `''` normalized to NULL at the reader (the
  * §1.2 sentinel rule), ACM 9-column rows NULL-aligned by name.
  *
  * Pushdown contract: `EqualTo`/`IsNull`/`IsNotNull`/`StringContains`/
  * `StringStartsWith` on string columns are FULLY handled by the reader
  * (returned as pushed, removed from `pushFilters`' residual), so the
  * plan above the scan carries no Filter node for them — pinned by
  * `ArticleSourceV2Spec` together with row-identity against the
  * [[ArticleSource]] spelling. Pruned columns never leave the reader:
  * filters evaluate on the parsed record, projection happens before the
  * row is handed to Spark.
  */
class ArticleSourceV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArticleSource.schema

  // accept user-supplied schemas so getTable can validate them: the exact
  // fixed schema passes through, a divergent one is rejected explicitly
  // (without this Spark fails ALL .schema(...) reads before getTable runs)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // fixed-schema source: honor the standard TableProvider contract by
    // REJECTING a user schema that differs, instead of silently dropping
    // it (r7 ADVICE)
    if (schema != null && schema != ArticleSource.schema)
      throw new UnsupportedOperationException(
        s"${getClass.getSimpleName} has a fixed schema; " +
          s".schema(...) overrides are not supported")
    val corpus = Option(properties.get("corpus")).getOrElse("all")
    val dir = Option(properties.get("dataDir")).getOrElse(ArticleSource.dataDir)
    new ArticlesTable(corpus, dir, Option(properties.get("path")))
  }
}

private[sources] class ArticlesTable(corpus: String, dataDir: String,
                                     writeDir: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private val corpora: Seq[String] =
    if (corpus == "all")
      Seq("ai_articles", "blockchain_articles",
        "acm_machine_learning_articles", "acm_blockchain_articles")
    else corpus.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  override def name(): String = s"graft_articles(${corpora.mkString(",")})"
  override def schema(): StructType = ArticleSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava
  /** Row provenance as a METADATA column (`_corpus`): which landing
    * corpus — the reference's pagination unit — each row arrived in,
    * surfaced only when selected (the `_metadata` discipline of file
    * sources, implemented on the connector via SupportsMetadataColumns).
    * The reader fills it from its partition constant: zero parse cost,
    * never materialized unless asked for (q262).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_corpus"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "landing corpus (the upstream's pagination unit) this row arrived in"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "ordinal within the landing artifact; (_corpus, _pos) is the row id"
      })

  /** METADATA-ONLY delete at FILE granularity (the Iceberg/Hive
    * partition-delete discipline, q264): a predicate is accepted iff it
    * decides every landed file WHOLLY — here, a conjunction over
    * `indexation`, the one column that is constant per corpus file
    * ([[ArticlesMeta.corpusIndexation]]). Matching corpora are dropped by
    * deleting their artifact (one FS delete per file, no row rewrite);
    * anything finer-grained is REJECTED so Spark fails loudly instead of
    * silently rewriting — sub-file deletes belong to the copy-on-write
    * path (q256), not the metadata path.
    *
    * Scale: O(#files-to-drop) filesystem calls, zero bytes read — the
    * reason partition-aligned retention/GDPR sweeps are free at 100 TB
    * while row-level ones cost a table rewrite.
    */
  private def realDeleteFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val real = realDeleteFilters(filters)
    // unconditional (TRUNCATE / AlwaysTrue) drops every artifact and
    // needs no indexation constants — it must work on estates holding
    // corpora outside the map (landed via CALL or MERGE inserts); only a
    // CONDITIONAL delete needs every corpus positively mapped to decide
    // each file wholly
    real.isEmpty || (corpora.forall(ArticlesMeta.corpusIndexation.contains) &&
      real.forall {
        case EqualTo(a, _: String) => a.equalsIgnoreCase("indexation")
        case org.apache.spark.sql.sources.In(a, vs) =>
          a.equalsIgnoreCase("indexation") && vs.forall(_.isInstanceOf[String])
        case _ => false
      })
  }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.hadoop.fs.Path
    require(canDeleteWhere(filters),
      s"not file-aligned: ${filters.mkString(", ")}")
    val real = realDeleteFilters(filters)
    val matches = (c: String) => real.forall {
      case EqualTo(_, v: String) => ArticlesMeta.corpusIndexation(c) == v
      case org.apache.spark.sql.sources.In(_, vs) =>
        vs.contains(ArticlesMeta.corpusIndexation(c))
      case f => throw new IllegalStateException(s"unreachable: $f")
    }
    corpora.filter(matches).foreach { c =>
      val p = new Path(s"$dataDir/$c.json")
      ArticlesFs.get(p).delete(p, false)
    }
  }

  /** ROW-LEVEL operations (SQL `MERGE INTO` / `UPDATE` / row `DELETE`,
    * q269) — the last DSv2 face, in DELTA mode ([[SupportsDelta]], the
    * Iceberg position-delta pattern): Spark's RewriteMergeIntoTable /
    * RewriteUpdateTable rewrite the statement into a join over this
    * operation's scan and stream only the CHANGED rows to the writer,
    * each tagged update/delete/insert and addressed by the row id
    * `(_corpus, _pos)` — the two metadata columns the reader mints from
    * the artifact layout. Writers apply their corpus's deltas by
    * rewriting that ONE artifact ([[ArticlesDeltaWriter]]); commit swaps
    * only affected artifacts, so an untouched corpus costs nothing and
    * readers mid-merge keep the old snapshot until the rename.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new ArticlesRowLevelOperation(info.command, corpora, dataDir)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArticlesScanBuilder(corpora, dataDir,
      // storage-partitioned reads are OPT-IN (the bucketed-table
      // discipline): reporting KeyGroupedPartitioning makes Spark 4
      // group the 4 corpus partitions into 2 key groups on EVERY read,
      // halving plain-scan parallelism — only a reader that wants the
      // shuffle-free join should pay that
      options.getBoolean("clusterByIndexation", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // mirror the read-side getTable check: ArticlesWriter serializes every
    // field via getUTF8String, so a non-matching incoming schema must be
    // rejected up front, not fail with ClassCastException mid-task
    if (info.schema != ArticleSource.schema)
      throw new UnsupportedOperationException(
        s"${getClass.getSimpleName} has a fixed schema; cannot write " +
          s"${info.schema.simpleString}")
    val dir = Option(info.options.get("path")).orElse(writeDir).getOrElse(
      throw new IllegalArgumentException(
        "writing graft.sources.ArticleSourceV2 requires a 'path' option"))
    new ArticlesWriteBuilder(dir, info)
  }
}

/** The WRITE face of the connector — the final source-ladder rung after
  * batch read (q222) and micro-batch read (q223): the reference's SAVE
  * side (`main.py:187-199` lands the scraped corpus as a JSON artifact)
  * as a genuine DSv2 `BatchWrite`. Tasks serialize rows to
  * JSON-lines part files in a hidden per-query staging dir; the driver
  * commit MOVES them into the target atomically-per-file, so a failed or
  * speculative task never leaves a partial artifact visible (the
  * standard stage-then-publish commit protocol; `abort` deletes the
  * stage). `SaveMode.Overwrite` arrives as overwrite-by-TRUE-filter
  * ([[SupportsOverwrite]]) and clears previously-published part files at
  * commit time — readers see the old artifact until the commit point.
  *
  * Scale: one writer per input partition, no coordination except the
  * O(#tasks) commit-message pass on the driver. Staging and publish run
  * through the Hadoop `FileSystem` API resolved from the target path's
  * URI ([[ArticlesFs]], r9 verdict #5) — on a cluster, tasks stage onto
  * the shared filesystem (hdfs://…) and the driver's commit publishes by
  * rename on the same FS; a schemeless local path binds the identical
  * code path to LocalFileSystem.
  */
private[sources] class ArticlesWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val all = filters.isEmpty || filters.forall {
      case org.apache.spark.sql.sources.AlwaysTrue() => true
      case _ => false
    }
    if (!all) throw new UnsupportedOperationException(
      s"only overwrite-all is supported, got ${filters.mkString(",")}")
    truncate()
  }
  override def build(): Write =
    new ArticlesWrite(dir, info.queryId, info.schema, truncateFirst)
}

private[sources] case class ArticlesCommit(stagedPath: String)
    extends WriterCommitMessage

/** Cluster-true filesystem access for the connector's stage-then-publish
  * protocol (r9 verdict #5): every stage, publish-by-rename, and cleanup
  * goes through the Hadoop [[org.apache.hadoop.fs.FileSystem]] resolved
  * from the path's URI — the code path a multi-node deployment runs
  * (hdfs://, abfs://, …); a schemeless local path merely binds it to
  * LocalFileSystem. Client-side checksum shadow files are disabled: the
  * artifact is schema-validated JSON and checksum policy belongs to the
  * storage layer, not the connector.
  */
/** Landed-estate metadata shared by the scan (runtime-filter pruning), the
  * catalog ([[GraftCatalog]]) and the metadata delete face: each corpus
  * file carries ONE constant `indexation` value (`main.py:96` /
  * `mainn.py:69`) — the connector's partition-level statistic.
  */
private[sources] object ArticlesMeta {
  val corpusIndexation: Map[String, String] = Map(
    "ai_articles" -> "IEEE", "blockchain_articles" -> "IEEE",
    "acm_machine_learning_articles" -> "ACM",
    "acm_blockchain_articles" -> "ACM")
}

private[sources] object ArticlesFs {
  import org.apache.hadoop.fs.{FileSystem, Path}
  /** `p`'s filesystem under `conf`, without client-side checksums. */
  def get(p: Path, conf: SerializableConfiguration): FileSystem =
    LocalFs.unchecked(p.getFileSystem(conf.value))
  /** The same where the write is planned, under the active session's conf. */
  def get(p: Path): FileSystem =
    LocalFs.unchecked(p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration))
  /** The active session's Hadoop conf, for shipping to task-side writers. */
  def conf: SerializableConfiguration =
    new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration)
}

private[sources] class ArticlesWrite(dir: String, queryId: String,
                                     schema: StructType, truncateFirst: Boolean)
    extends Write with BatchWrite {
  import org.apache.hadoop.fs.Path

  private def stagePath = new Path(dir, s".staging-$queryId")

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite =
    new ArticlesStreamingWrite(dir, queryId, schema)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    ArticlesFs.get(stagePath).mkdirs(stagePath)
    new ArticlesWriterFactory(dir, queryId, schema, ArticlesFs.conf)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(dir)
    val fs = ArticlesFs.get(target)
    fs.mkdirs(target)
    if (truncateFirst)
      fs.listStatus(target)
        .filter(_.getPath.getName.startsWith("part-"))
        .foreach(st => fs.delete(st.getPath, false))
    messages.foreach { case ArticlesCommit(staged) =>
      val src = new Path(staged)
      val dst = new Path(target, src.getName)
      fs.delete(dst, false) // REPLACE_EXISTING semantics for re-publishes
      if (!fs.rename(src, dst))
        throw new IllegalStateException(
          s"publish rename $src -> $dst failed at commit")
    }
    dropStage()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case ArticlesCommit(staged) =>
        val p = new Path(staged)
        ArticlesFs.get(p).delete(p, false)
      case _ => ()
    }
    dropStage()
  }
  // best-effort: a speculative task's orphan must not fail the commit
  private def dropStage(): Unit =
    try ArticlesFs.get(stagePath).delete(stagePath, true)
    catch { case _: Exception => () }
}

private[sources] class ArticlesWriterFactory(dir: String, queryId: String,
                                             schema: StructType,
                                             conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ArticlesWriter(dir, queryId, schema,
      f"part-$partitionId%05d-$taskId.json", conf)
}

/** The STREAMING write face — with [[ArticlesMicroBatchStream]] this
  * completes the connector's 2×2 surface (batch/stream × read/write).
  * Same stage-then-publish protocol as the batch write, with the epoch
  * baked into every part-file name (`part-e<epoch>-<pid>-<tid>`), which
  * makes the per-epoch commit IDEMPOTENT: a replayed epoch (restart from
  * checkpoint after a crash between sink commit and offset commit — the
  * at-least-once window every streaming sink must close) first clears
  * that epoch's previously-published files, so the landed artifact holds
  * each micro-batch exactly once.
  */
private[sources] class ArticlesStreamingWrite(dir: String, queryId: String,
                                              schema: StructType)
    extends StreamingWrite {
  import org.apache.hadoop.fs.Path

  private def stagePath = new Path(dir, s".staging-$queryId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    ArticlesFs.get(stagePath).mkdirs(stagePath)
    new ArticlesStreamingWriterFactory(dir, queryId, schema, ArticlesFs.conf)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(dir)
    val fs = ArticlesFs.get(target)
    fs.mkdirs(target)
    // idempotent epoch replay: drop anything this epoch published before
    fs.listStatus(target)
      .filter(_.getPath.getName.startsWith(s"part-e$epochId-"))
      .foreach(st => fs.delete(st.getPath, false))
    messages.foreach { case ArticlesCommit(staged) =>
      val src = new Path(staged)
      if (fs.exists(src)) {
        val dst = new Path(target, src.getName)
        fs.delete(dst, false)
        if (!fs.rename(src, dst))
          throw new IllegalStateException(
            s"publish rename $src -> $dst failed at epoch $epochId commit")
      }
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ArticlesCommit(staged) =>
        val p = new Path(staged)
        ArticlesFs.get(p).delete(p, false)
      case _ => ()
    }
}

private[sources] class ArticlesStreamingWriterFactory(dir: String,
                                                      queryId: String,
                                                      schema: StructType,
                                                      conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new ArticlesWriter(dir, queryId, schema,
      f"part-e$epochId-$partitionId%05d-$taskId.json", conf)
}

/** One task's writer: rows → JSON lines in a staged part file. Fields are
  * serialized through Jackson (proper escaping), NULLs as JSON null — the
  * re-read side (`spark.read.schema(...).json`) recovers them exactly.
  */
private[sources] class ArticlesWriter(dir: String, queryId: String,
                                      schema: StructType, fileName: String,
                                      conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  import org.apache.hadoop.fs.Path

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  // task-side staging through the Hadoop FileSystem API: on a cluster the
  // staged part file lands on the SHARED filesystem the driver's commit
  // renames from — the single-node java.nio assumption is gone (r9 #5)
  private val staged = new Path(new Path(dir, s".staging-$queryId"), fileName)
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    ArticlesFs.get(staged, conf).create(staged, true),
    java.nio.charset.StandardCharsets.UTF_8))

  override def write(row: InternalRow): Unit = {
    val node = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) node.putNull(f.name)
      else node.put(f.name, row.getUTF8String(i).toString)
    }
    out.write(mapper.writeValueAsString(node))
    out.write("\n")
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    ArticlesCommit(staged.toString)
  }
  override def abort(): Unit = {
    out.close()
    ArticlesFs.get(staged, conf).delete(staged, false)
  }
  override def close(): Unit = ()
}

private[sources] class ArticlesRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    corpora: Seq[String], dataDir: String)
    extends org.apache.spark.sql.connector.write.SupportsDelta {
  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArticlesScanBuilder(corpora, dataDir)
  /** `(_corpus, _pos)` — artifact + ordinal, the connector's positional
    * row address (the reader mints both from the artifact layout).
    */
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("_corpus"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))
  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new ArticlesDeltaWrite(dataDir, info.queryId, info.schema)
    }
}

/** The delta write behind MERGE/UPDATE: changed rows arrive CLUSTERED on
  * `_corpus` ([[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]])
  * so each affected artifact is owned by exactly ONE task, which applies
  * its deltas by rewriting that artifact copy-on-write
  * ([[ArticlesDeltaWriter]]); `WHEN NOT MATCHED INSERT` rows carry no
  * provenance and land in a dedicated `merged_inserts` artifact. Commit
  * renames ONLY the staged (affected) artifacts over the estate —
  * untouched corpora cost nothing, readers mid-merge keep the old
  * snapshot until the per-artifact rename.
  *
  * Scale: the shuffle moves ONLY the changed rows (the delta-vs-group
  * trade: group-based COW re-shuffles whole groups); the rewrite cost is
  * O(affected artifacts). At estate scale an artifact is one upstream
  * page set; a 100 TB layout would make the artifact a parquet file
  * group and this exact protocol is Iceberg's position-delta COW.
  *
  * Known bound: inserts cluster on a NULL key while updates to rows
  * already living in `merged_inserts` cluster on its name, so a MERGE
  * doing BOTH can stage `merged_inserts.json` from two different tasks
  * (within ONE task the two fold into a single staged rewrite). The
  * commit DETECTS duplicate staged artifact names and fails the job
  * before publishing anything — never last-rename-wins data loss. A
  * production artifact scheme gives inserts a fresh per-operation
  * artifact name instead of one shared landing file.
  */
private[sources] class ArticlesDeltaWrite(dir: String, queryId: String,
                                          schema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.hadoop.fs.Path

  private def stagePath = new Path(dir, s".staging-delta-$queryId")

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .identity("_corpus")))
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    ArticlesFs.get(stagePath).mkdirs(stagePath)
    val d = dir; val q = queryId; val s = schema; val c = ArticlesFs.conf
    new org.apache.spark.sql.connector.write.DeltaWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long)
          : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
        // attempt-scoped staging subdir: a speculative/zombie attempt
        // writes its own files, and only the attempt whose commit
        // message the coordinator accepts gets published
        new ArticlesDeltaWriter(d, s"$q/p$partitionId-t$taskId", q, s, c)
    }
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(dir)
    val fs = ArticlesFs.get(target)
    // per-artifact swap: delete + rename (a generic FileSystem has no
    // atomic overwrite — a manifest-pointer estate (q247) is the scale
    // answer; here a FAILED rename must abort the job loudly, never
    // silently lose the artifact)
    val staged = messages.flatMap {
      case ArticlesDeltaCommit(staged) => staged
      case _ => Seq.empty
    }.distinct
    // two TASKS staging the same artifact name (e.g. a MERGE that both
    // inserts and updates rows already living in merged_inserts: inserts
    // cluster on a NULL key, those updates on the artifact name) would
    // make the later rename silently win and drop the other task's
    // rewrite — refuse BEFORE publishing anything, so the estate keeps
    // its pre-merge snapshot and the caller sees the conflict
    val dup = staged.map(sp => new Path(sp).getName)
      .groupBy(identity).collect { case (n, v) if v.length > 1 => n }
    require(dup.isEmpty,
      s"conflicting staged artifacts ${dup.mkString(", ")}: two tasks " +
        "rewrote the same artifact in one operation — last-rename-wins " +
        "would silently lose rows; split the MERGE or give inserts a " +
        "fresh artifact name")
    staged.foreach { sp =>
      val p = new Path(sp)
      val dst = new Path(target, p.getName)
      fs.delete(dst, false)
      require(fs.rename(p, dst), s"publish failed: $p -> $dst")
    }
    fs.delete(stagePath, true)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ArticlesFs.get(stagePath).delete(stagePath, true)
}

/** One delta task: buffers its corpus's position-addressed deltas, then
  * applies them in one pass over the artifact (ordinal i → deleted,
  * replaced, or kept verbatim) and stages the rewritten JSON array; the
  * buffered state is O(changed rows), the apply is O(artifact).
  */
private[sources] class ArticlesDeltaWriter(dir: String, attemptDir: String,
                                           queryId: String,
                                           schema: StructType,
                                           conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.hadoop.fs.Path
  import com.fasterxml.jackson.databind.ObjectMapper

  private val mapper = new ObjectMapper
  // per corpus: pos -> Some(replacement fields) | None (delete)
  private val deltas = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable.LongMap[Option[Seq[String]]]]
  private val inserts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

  private def fields(row: InternalRow): Seq[String] =
    schema.fields.indices.map(i =>
      if (row.isNullAt(i)) null else row.getString(i))

  private def corpusOf(id: InternalRow): String = id.getUTF8String(0).toString
  private def deltasFor(c: String) = deltas.getOrElseUpdate(c,
    scala.collection.mutable.LongMap.empty[Option[Seq[String]]])

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deltasFor(corpusOf(id)).update(id.getLong(1), None)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    deltasFor(corpusOf(id)).update(id.getLong(1), Some(fields(row)))
  override def insert(row: InternalRow): Unit =
    inserts += fields(row)

  private def toNode(vals: Seq[String]) = {
    val node = mapper.createObjectNode()
    schema.fields.zip(vals).foreach { case (f, v) =>
      if (v == null) node.putNull(f.name) else node.put(f.name, v)
    }
    node
  }

  override def commit(): WriterCommitMessage = {
    val insertTarget = "merged_inserts"
    // one pass per AFFECTED artifact; inserts fold into the SAME staged
    // merged_inserts rewrite when that artifact is also updated by this
    // task, so a single MERGE can never stage one artifact twice
    val affected = (deltas.keys ++
      (if (inserts.nonEmpty) Seq(insertTarget) else Seq.empty)).toSeq.distinct
    val staged = affected.map { corpus =>
      val ops = deltas.getOrElse(corpus,
        scala.collection.mutable.LongMap.empty[Option[Seq[String]]])
      val src = new Path(dir, s"$corpus.json")
      val fs = ArticlesFs.get(src, conf)
      val out = mapper.createArrayNode()
      if (fs.exists(src)) {
        val root = mapper.readTree(fs.open(src))
        require(root.isArray, s"$src is not a JSON array")
        var i = 0L
        root.elements().asScala.foreach { node =>
          ops.get(i) match {
            case None => out.add(node) // untouched
            case Some(Some(vals)) => out.add(toNode(vals))
            case Some(None) => () // deleted
          }
          i += 1
        }
      }
      if (corpus == insertTarget) inserts.foreach(v => out.add(toNode(v)))
      stage(corpus, out, fs)
    }
    ArticlesDeltaCommit(staged)
  }

  private def stage(corpus: String,
                    arr: com.fasterxml.jackson.databind.node.ArrayNode,
                    fs: org.apache.hadoop.fs.FileSystem): String = {
    val p = new Path(new Path(dir, s".staging-delta-$attemptDir"),
      s"$corpus.json")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    w.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
    w.close()
    p.toString
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}

private[sources] case class ArticlesDeltaCommit(stagedPaths: Seq[String])
    extends WriterCommitMessage

private[sources] class ArticlesScanBuilder(corpora: Seq[String], dataDir: String,
                                            clusterByIndexation: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ArticleSource.schema
  private var limit: Int = -1
  private var aggGroups: Option[Seq[String]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(ArticlesReader.supported)
    pushed = sup
    unsup // residual: Spark keeps a Filter node only for these
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Limit pushdown (PARTIAL — `isPartiallyPushed` stays at its default
    * `true`): each partition's reader stops parsing after `l` matching
    * rows and Spark's own Limit takes the global cut. Against a metered
    * upstream this is the difference between paging the whole corpus and
    * stopping at page ⌈l / pageSize⌉ (`main.py:64`'s loop breaking
    * early).
    */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** Aggregate pushdown for the COUNT(*) [GROUP BY string-col…] shape
    * (partial — `supportCompletePushDown` stays false): each reader
    * emits one (group, count) row per corpus instead of one row per
    * article, and Spark's final aggregate merges the per-partition
    * partials. The rows crossing the source boundary shrink from
    * |articles| to |corpora × groups| — the pushdown that matters when
    * the source is remote and the query is a dashboard count.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val groups = agg.groupByExpressions.toSeq.map {
      // only RECORD fields group correctly in the agg reader — the
      // metadata columns (`_corpus`/`_pos`) are minted by the row
      // reader, not present in the parsed JSON, and would silently key
      // every group as NULL
      case f: NamedReference if f.fieldNames.length == 1 &&
        ArticleSource.schema.fieldNames.contains(f.fieldNames()(0)) =>
        f.fieldNames()(0)
      case _ => return false
    }
    val onlyCountStar = agg.aggregateExpressions.toSeq match {
      case Seq(_: CountStar) => true
      case _ => false
    }
    if (!onlyCountStar) return false
    aggGroups = Some(groups)
    true
  }

  override def build(): Scan = aggGroups match {
    case Some(groups) => new ArticlesAggScan(corpora, dataDir, groups, pushed)
    case None =>
      new ArticlesScan(corpora, dataDir, required, pushed, limit,
        clusterByIndexation)
  }
}

/** Aggregate-pushdown scan: COUNT(*) grouped by `groups`, computed INSIDE
  * each partition's reader; Spark's final aggregate merges the partials
  * ([[ArticlesScanBuilder.pushAggregation]]).
  */
private[sources] class ArticlesAggScan(corpora: Seq[String], dataDir: String,
                                       groups: Seq[String], pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    groups.map(g => StructField(g, StringType)) :+
      StructField("COUNT(*)", LongType, nullable = false))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-articles corpora=${corpora.mkString(",")} " +
      s"PushedAggregation: [COUNT(*) GROUP BY ${groups.mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    corpora.map(c => ArticlesPartition(c, s"$dataDir/$c.json")).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ArticlesAggReaderFactory(groups, pushed)
}

private[sources] class ArticlesAggReaderFactory(groups: Seq[String],
                                                pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ArticlesAggReader(partition.asInstanceOf[ArticlesPartition], groups, pushed)
}

/** Parses one corpus and emits its (group values → count) partials —
  * O(groups) memory regardless of corpus size, the map-side combine done
  * at the source.
  */
private[sources] class ArticlesAggReader(part: ArticlesPartition,
                                         groups: Seq[String],
                                         pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val it = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(part.path))
    require(root.isArray, s"${part.path} is not a JSON array")
    val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Long]
    root.elements().asScala.foreach { node =>
      def field(name: String): String = {
        val v = node.get(name)
        if (v == null || v.isNull) null
        else { val s = v.asText(); if (s.isEmpty) null else s }
      }
      if (pushed.forall(ArticlesReader.eval(_, field))) {
        val key = groups.map(field)
        acc(key) = acc.getOrElse(key, 0L) + 1L
      }
    }
    acc.iterator
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (it.hasNext) {
      val (key, n) = it.next()
      current = InternalRow.fromSeq(
        key.map(s => if (s == null) null else UTF8String.fromString(s)) :+ n)
      true
    } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private[sources] class ArticlesScan(corpora: Seq[String], dataDir: String,
                                    required: StructType, pushed: Array[Filter],
                                    limit: Int = -1,
                                    clusterByIndexation: Boolean = false)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required

  /** Storage-partitioned-join surface: the scan REPORTS that its
    * partitions are clustered by `indexation` (each corpus is one
    * constant-indexation partition, keyed via [[ArticlesPartition]]'s
    * HasPartitionKey), so with `spark.sql.sources.v2.bucketing.enabled`
    * two reads of this source join or aggregate on indexation with NO
    * exchange on the connector side — the DSv2 analog of q253's
    * bucketed tables (Iceberg serves SPJ through exactly this API).
    * Reported ONLY when every planned corpus has a known mapping and
    * the key column survives pruning: an unmapped corpus would be keyed
    * wrong, and a mis-keyed partition silently co-locates wrong rows —
    * conservatism here is a correctness requirement, not an
    * optimization preference.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val planned = corpora.filter(c =>
      allowed.forall(a => corpusIndexation.get(c).forall(a.contains)))
    if (clusterByIndexation && planned.nonEmpty &&
      planned.forall(corpusIndexation.contains) &&
      required.fieldNames.contains("indexation"))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .identity("indexation")),
        planned.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  /** Size/row statistics from the landed artifacts' own metadata (a
    * listing-only pass, the q242 discipline). Without this a DSv2
    * relation defaults to `spark.sql.defaultSizeInBytes` (effectively
    * infinite), so the planner would never AUTO-broadcast the corpus
    * side of a join — the stats are what lets Catalyst treat the
    * connector like any well-described table. Rows are estimated from a
    * ~1.2 KB/article record size; bytes are exact file lengths.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = corpora
        .map(c => new java.io.File(s"$dataDir/$c.json").length()).sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes / 1200, 1L))
    }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ArticlesMicroBatchStream(corpora, dataDir, required, pushed)
  override def description(): String =
    s"graft-articles corpora=${corpora.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      (if (limit >= 0) s"PushedLimit: $limit, " else "") +
      s"ReadSchema: ${required.catalogString}"

  // ---- runtime filtering (the DSv2 analog of q233's dynamic partition
  // pruning): each corpus partition carries a CONSTANT `indexation`
  // (`main.py:96` / `mainn.py:69`), so join-key values computed at
  // RUNTIME from the dim side can drop whole corpora before a byte of
  // them is parsed — Catalyst's PartitionPruning rule injects the
  // dynamicpruning subquery exactly as for hive layouts, and `filter`
  // receives the surviving key set when the broadcast materializes.
  // ArticleSourceV2Spec pins both the plan and the partitions-opened
  // count.
  @volatile private var allowed: Option[Set[String]] = None
  private val corpusIndexation: Map[String, String] = ArticlesMeta.corpusIndexation

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // runtime-filter refs must resolve against the scan OUTPUT: offering
    // `indexation` on a read that pruned it crashes PartitionPruning's
    // resolveRefs (surfaced by q266's view join, which prunes to 2 cols)
    if (required.fieldNames.contains("indexation"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("indexation"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case org.apache.spark.sql.sources.In(a, vs)
          if a.equalsIgnoreCase("indexation") =>
        vs.collect { case s: String => s }.toSet
      case EqualTo(a, v: String) if a.equalsIgnoreCase("indexation") =>
        Set(v)
    }
    if (sets.nonEmpty) allowed = Some(sets.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] =
    corpora
      // Runtime-filter pruning must be CONSERVATIVE: a corpus whose
      // indexation constant is unknown to the map is always read (missing
      // the optimization, never the rows). Only a corpus that POSITIVELY
      // maps to a disallowed indexation may be dropped (r9 ADVICE).
      .filter(c => allowed.forall(a => corpusIndexation.get(c).forall(a.contains)))
      .map(c => ArticlesPartition(c, s"$dataDir/$c.json", corpusIndexation.get(c)))
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ArticlesReaderFactory(required, pushed, limit)
}

/** Stream offset = number of corpora fully ingested (the reference's page
  * cursor, `main.py:64-136`: "how far down the pagination are we").
  */
private[sources] case class CorpusOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

/** The MicroBatchStream face of the same reader — the final piece of the
  * source rung (r7 verdict #4): the reference's defining loop is
  * INCREMENTAL page arrival, so the connector exposes each landed corpus
  * as one micro-batch. Admission control paces one corpus per trigger
  * (the `maxFilesPerTrigger=1` analog); `Trigger.AvailableNow` drains all
  * four in order and stops. The same pushed filters and pruned columns
  * apply inside each batch's reader — streaming rows are dropped at the
  * source exactly like batch rows.
  *
  * State at scale: the offset is ONE integer (corpora ingested); readers
  * hold no cross-batch state, so recovery replans from the checkpointed
  * offset alone.
  */
private[sources] class ArticlesMicroBatchStream(
    corpora: Seq[String], dataDir: String,
    required: StructType, pushed: Array[Filter])
    extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = CorpusOffset(0)
  override def deserializeOffset(json: String): Offset =
    CorpusOffset(json.trim.toInt)
  // plain path (no admission control): everything that exists
  override def latestOffset(): Offset = CorpusOffset(corpora.length)
  // admission-controlled path: advance ONE corpus per micro-batch
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    CorpusOffset(math.min(start.asInstanceOf[CorpusOffset].n + 1, corpora.length))
  override def reportLatestOffset(): Offset = CorpusOffset(corpora.length)
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    (start.asInstanceOf[CorpusOffset].n until end.asInstanceOf[CorpusOffset].n)
      .map(i => ArticlesPartition(corpora(i), s"$dataDir/${corpora(i)}.json"))
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ArticlesReaderFactory(required, pushed)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One corpus = one partition. `indexationKey` (when the corpus→indexation
  * mapping is known) makes the partition ADDRESSABLE BY KEY
  * ([[org.apache.spark.sql.connector.read.HasPartitionKey]]): every row of
  * the corpus carries that constant indexation (`main.py:96` /
  * `mainn.py:69`), so Spark may group partitions by key and run
  * storage-partitioned joins/aggregations without shuffling this side —
  * the key is only TRUSTED when [[ArticlesScan.outputPartitioning]]
  * reports KeyGroupedPartitioning, which it does only if every planned
  * corpus has a known mapping (the q259-ADVICE conservatism, applied to
  * correctness this time: a mis-keyed partition would silently co-locate
  * wrong rows).
  */
private[sources] case class ArticlesPartition(corpus: String, path: String,
                                              indexationKey: Option[String] = None)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(
        indexationKey.getOrElse(""))))
}

private[sources] object ArticlesReaderFactory {
  /** Observability hook: partitions actually OPENED. Runtime filtering's
    * whole effect is "corpora never read"; result identity cannot show
    * it, so the spec resets this, runs the join, and asserts only the
    * surviving corpora were opened.
    */
  val readersOpened = new java.util.concurrent.atomic.AtomicLong(0)
}

private[sources] class ArticlesReaderFactory(required: StructType,
                                             pushed: Array[Filter],
                                             limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    ArticlesReaderFactory.readersOpened.incrementAndGet()
    new ArticlesReader(partition.asInstanceOf[ArticlesPartition], required,
      pushed, limit)
  }
}

private[sources] object ArticlesReader {
  /** Filters the reader evaluates itself (on string RECORD columns).
    * Predicates over the minted metadata columns (`_corpus`/`_pos`) must
    * stay ABOVE the scan as residual Filters — `eval` reads the parsed
    * JSON, where those fields do not exist, and claiming them would
    * silently drop every row.
    */
  def supported(f: Filter): Boolean = {
    val onRecord = f.references.forall(ArticleSource.schema.fieldNames.contains)
    onRecord && (f match {
      case EqualTo(_, _: String) => true
      case IsNotNull(_) | IsNull(_) => true
      case StringContains(_, _) | StringStartsWith(_, _) => true
      case _ => false
    })
  }

  def eval(f: Filter, field: String => String): Boolean = f match {
    case EqualTo(a, v: String) => field(a) == v
    case IsNotNull(a) => field(a) != null
    case IsNull(a) => field(a) == null
    case StringContains(a, v) =>
      field(a) != null && field(a).contains(v)
    case StringStartsWith(a, v) =>
      field(a) != null && field(a).startsWith(v)
    case _ => true
  }
}

/** Parses one corpus file (a single pretty-printed JSON ARRAY,
  * `main.py:197-198`) with Jackson from Spark's own classpath, normalizes
  * `''` → NULL, applies the pushed filters on the full record, and emits
  * only the projected columns. Missing ACM columns read as NULL (the
  * unionByName alignment, done at the source).
  */
private[sources] class ArticlesReader(part: ArticlesPartition,
                                      required: StructType,
                                      pushed: Array[Filter],
                                      limit: Int = -1)
    extends PartitionReader[InternalRow] {
  import com.fasterxml.jackson.databind.ObjectMapper

  private val it = {
    val root = new ObjectMapper().readTree(new java.io.File(part.path))
    require(root.isArray, s"${part.path} is not a JSON array")
    root.elements().asScala
  }
  private var current: InternalRow = _

  private def fieldOf(node: com.fasterxml.jackson.databind.JsonNode)
                     (name: String): String = {
    val v = node.get(name)
    if (v == null || v.isNull) null
    else {
      val s = v.asText()
      if (s.isEmpty) null else s // '' → NULL sentinel rule
    }
  }

  private var emitted = 0
  private var pos = -1L

  override def next(): Boolean = {
    // pushed limit: stop PARSING once this partition has supplied its
    // share — the early-termination the builder promised Spark
    if (limit >= 0 && emitted >= limit) return false
    while (it.hasNext) {
      val node = it.next()
      pos += 1
      val field = fieldOf(node) _
      if (pushed.forall(ArticlesReader.eval(_, field))) {
        current = InternalRow.fromSeq(required.fields.toSeq.map { f =>
          // metadata columns: provenance/ordinal from the partition
          // constant and the parse cursor, not the parsed record
          if (f.name == "_corpus") UTF8String.fromString(part.corpus)
          else if (f.name == "_pos") java.lang.Long.valueOf(pos)
          else {
            val s = field(f.name)
            if (s == null) null else UTF8String.fromString(s)
          }
        })
        emitted += 1
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** The oracle-verified query face of the connector. */
object ArticlesV2 extends QueryModule {
  private val q231Runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** q222: per-index article counts read THROUGH the V2 connector with
    * the `indexation` filter pushed into the reader — the plan shows a
    * BatchScan whose description carries the pushed
    * `IsNotNull(indexation)` and no Filter node above it. Oracle reads
    * the same landed JSON through DuckDB; `dir` is unused (the corpora
    * are fixed landed artifacts, the reference's `data/`).
    */
  private def q222(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .filter(col("indexation").isNotNull)
      .groupBy(col("indexation"))
      .agg(count(lit(1)).as("n_articles"))
      .orderBy(col("indexation"))

  private val q222Sql =
    s"""SELECT indexation, CAST(COUNT(*) AS BIGINT) AS n_articles
       |FROM (${ArticleSource.unionAllSql})
       |WHERE indexation IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q223: the SAME aggregate as q222 read through the connector's
    * STREAMING face — four micro-batches (one per corpus, the reference's
    * page loop) drained with `Trigger.AvailableNow` into a complete-mode
    * memory sink. The batch collapse of the incremental run hash-matches
    * q222's oracle, which is the stream–batch parity the §2.9 suite pins
    * for the events pipelines, now proved for the custom source too.
    */
  private def q223(s: SparkSession, dir: String): DataFrame = {
    val agg = s.readStream.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .filter(col("indexation").isNotNull)
      .groupBy(col("indexation"))
      .agg(count(lit(1)).as("n_articles"))
    val q = agg.writeStream.format("memory").queryName("q223_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("q223_sink").orderBy(col("indexation"))
  }

  /** q226: the connector's WRITE face closing the land→re-read loop —
    * read all corpora through the V2 reader, land them through the V2
    * [[ArticlesWriteBuilder]] (staged JSON-lines part files, publish at
    * commit), re-read the LANDED artifact with Spark's JSON source, and
    * aggregate. Landing is row-identity (Jackson-escaped JSON null/text
    * round-trips exactly), so the q222 oracle applies verbatim to the
    * re-read — which is the check that the writer published everything,
    * exactly once, with nothing truncated or double-landed.
    *
    * The artifact store here is the local filesystem (StagingDirs-scoped
    * tmp); a production deployment points `path` at shared storage — the
    * commit protocol (stage per task, publish per commit message, abort
    * deletes the stage) is the same one Spark's own file sinks run at
    * thousand-executor scale.
    */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val out = graft.StagingDirs.dir(s, "v2write")
    s.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .write.format("graft.sources.ArticleSourceV2")
      .mode("overwrite").save(out)
    s.read.schema(ArticleSource.schema).json(out)
      .filter(col("indexation").isNotNull)
      .groupBy(col("indexation"))
      .agg(count(lit(1)).as("n_articles"))
      .orderBy(col("indexation"))
  }

  /** q231: the full streaming LOOP through the connector — micro-batch
    * READ (q223's one-corpus-per-trigger pacing) piped into the
    * connector's STREAMING WRITE ([[ArticlesStreamingWrite]]): each epoch
    * lands its own epoch-tagged part files, replays idempotently, and the
    * re-read of the landed artifact aggregates to the same q222 oracle —
    * exactly-once landing across all four micro-batches. This is the
    * reference's scrape loop end to end: paginate in, land each page as
    * it arrives (`main.py:64-136` → `main.py:187-199`), with the
    * checkpoint making a crashed run resume instead of duplicate.
    */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    // key checkpoint AND output per EXECUTION, not per session: a
    // session-keyed checkpoint means every re-run after the first
    // resumes a fully committed checkpoint and measures a no-data pass
    // (~0.1s), so the bench would quote resume cost as the write cost
    val run = q231Runs.incrementAndGet()
    val out = graft.StagingDirs.dir(s, "v2swrite", s"r$run")
    val ckpt = graft.StagingDirs.dir(s, "v2swrite_ckpt", s"r$run")
    val q = s.readStream.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .writeStream.format("graft.sources.ArticleSourceV2")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.schema(ArticleSource.schema).json(out)
      .filter(col("indexation").isNotNull)
      .groupBy(col("indexation"))
      .agg(count(lit(1)).as("n_articles"))
      .orderBy(col("indexation"))
  }

  /** q236: the q222 count run through AGGREGATE PUSHDOWN — the dashboard
    * count computed INSIDE the connector's readers
    * ([[ArticlesScanBuilder.pushAggregation]]): each corpus partition
    * emits one (indexation, partial count) row instead of its articles,
    * and Spark's final aggregate merges 4 rows. `ArticleSourceV2Spec`
    * pins the plan (PushedAggregation in the scan, aggregated
    * ReadSchema); this oracle pins the values.
    */
  private def q236(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .groupBy(col("indexation"))
      .agg(count(lit(1)).as("n_articles"))
      .orderBy(col("indexation"))

  private val q236Sql =
    s"""SELECT indexation, CAST(COUNT(*) AS BIGINT) AS n_articles
       |FROM (${ArticleSource.unionAllSql})
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q261: STORAGE-PARTITIONED self-join through the connector — the
    * DSv2 analog of q253's bucketed tables: both sides of the
    * indexation join are reads of [[ArticleSourceV2]], whose scan
    * reports KeyGroupedPartitioning over the per-corpus constant
    * (`ArticlesScan.outputPartitioning`), so with v2 bucketing on and
    * broadcast off the join consumes the SOURCE's clustering — zero
    * exchanges on either side (ArticleSourceV2Spec pins the plan). The
    * pair count per indexation hash-matches the plain SQL self-join.
    * This is the Iceberg-style join path where co-location is a
    * property the CONNECTOR declares, not one a shuffle manufactures.
    *
    * Scale: for two 100 TB sources sharing a partition key, SPJ removes
    * both O(data) exchanges entirely — the same argument as bucketing,
    * but portable across engines because the clustering travels with
    * the table, not the session.
    */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    withConf(s, "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { s =>
      val read = () => s.read.format("graft.sources.ArticleSourceV2")
        .option("corpus", "all").option("clusterByIndexation", "true").load()
        .filter(col("indexation").isNotNull)
        .select(col("indexation"))
      read().as("a")
        .join(read().as("b"), col("a.indexation") === col("b.indexation"))
        .groupBy(col("a.indexation").as("indexation"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("indexation"))
    }
  }

  private val q261Sql =
    s"""WITH u AS (${ArticleSource.unionAllSql})
       |SELECT a.indexation, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM u a JOIN u b ON a.indexation = b.indexation
       |WHERE a.indexation IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q262: per-row PROVENANCE via the connector's `_corpus` metadata
    * column ([[ArticlesTable.metadataColumns]]) — the landing-zone audit
    * every ingest pipeline runs ("which page did each record arrive
    * in?") answered without a join or a parse: the reader fills the
    * column from its partition constant only when the query selects it.
    * The oracle replays provenance by reading each landed file under its
    * own label.
    *
    * Scale: provenance costs nothing at rest (it is not stored) and
    * O(1)/row when asked for; the audit aggregate is O(#corpora) rows.
    */
  private def q262(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .select(col("_corpus").as("corpus"), col("doi"), col("indexation"))
      .groupBy(col("corpus"))
      .agg(count(lit(1)).as("n_articles"),
        count(col("doi")).as("n_with_doi"),
        max(col("indexation")).as("indexation"))
      .orderBy(col("corpus"))

  private val q262Sql = {
    val one = (c: String) =>
      s"""SELECT '$c' AS corpus, NULLIF(doi,'') AS doi,
         |  NULLIF(indexation,'') AS indexation
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    s"""WITH u AS (
       |${Seq("ai_articles", "blockchain_articles",
              "acm_machine_learning_articles", "acm_blockchain_articles")
         .map(one).mkString("\nUNION ALL BY NAME\n")})
       |SELECT corpus, CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
       |  MAX(indexation) AS indexation
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q222_dsv2_articles" -> q222, "q223_dsv2_stream" -> q223,
      "q226_dsv2_write" -> q226, "q231_dsv2_stream_write" -> q231,
      "q236_dsv2_agg_pushdown" -> q236,
      "q261_dsv2_partitioned_join" -> q261,
      "q262_dsv2_metadata_column" -> q262)

  override def oracles: Map[String, String] =
    Map("q222_dsv2_articles" -> q222Sql, "q223_dsv2_stream" -> q222Sql,
      "q226_dsv2_write" -> q222Sql, "q231_dsv2_stream_write" -> q222Sql,
      "q236_dsv2_agg_pushdown" -> q236Sql,
      "q261_dsv2_partitioned_join" -> q261Sql,
      "q262_dsv2_metadata_column" -> q262Sql)
}
