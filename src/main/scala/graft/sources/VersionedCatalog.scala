package graft.sources

import java.util.{Collections => JCollections}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.v2.json.JsonTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL front door for [[VersionedManifest]] tables — the way a SQL user
  * reaches snapshot history: `spark.sql.catalog.<name> = VersionedCatalog`
  * (+ `.root = <dir>`) makes every versioned table under `<root>/<tbl>/`
  * addressable as `<name>.tables.<tbl>`, with Spark's DSv2 time-travel
  * grammar resolving through the manifest:
  *
  *   - `SELECT … FROM <name>.tables.t` — the newest COMMITTED version,
  *     pinned at analysis time (the snapshot-isolation contract q247
  *     proves on the Scala API);
  *   - `… VERSION AS OF 2` — [[VersionedManifest.readAt]]'s refusal
  *     semantics: an uncommitted version is an analysis-time error, at
  *     any number (q321, Round11Spec);
  *   - `… TIMESTAMP AS OF '…'` — resolved against manifest COMMIT times
  *     (the rename instant), newest version at-or-before the timestamp.
  *
  * The data path is deliberately NOT reimplemented: the loaded table
  * delegates its scan to Spark's own `ParquetTable`/`JsonTable` over the
  * version's resolved data directories, so pushdown, vectorized reads and
  * file-splitting are the stock parquet/json scan — the catalog only
  * decides WHICH directories a snapshot means (reference analog: re-reading
  * the landed `data/` corpus of a prior scrape session, SURVEY §3.3).
  *
  * The WRITE face closes the loop the other way ([[VersionedStreamingWrite]]):
  * `df.writeStream.toTable("<name>.tables.t")` lands each epoch's rows as
  * staged JSON-lines part files and makes the EPOCH COMMIT a manifest
  * [[VersionedManifest.tryCommit]] — q231's epoch idempotence and q252's
  * manifest idempotence become one mechanism: a replayed epoch finds its
  * `epoch=` marker in committed history and lands nothing.
  */
class VersionedCatalog extends CatalogPlugin with TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import VersionedCatalog._

  private var catName: String = _
  private var root: String = _
  private var pinnedMode: Boolean = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root = <dir>"))
    // pinned=true: resolve every table through the MULTI-TABLE snapshot
    // pins (`_catalog/M`, [[SnapshotCatalog]]) instead of per-table
    // latest — a reader can never observe table A's new version joined
    // against B's old one, and `VERSION AS OF m` means CATALOG version m
    pinnedMode = "true".equalsIgnoreCase(options.get("pinned"))
  }
  override def name(): String = catName
  override def defaultNamespace(): Array[String] = Array(TableNs)

  private def spark = SparkSession.active
  private def dirOf(ident: Identifier): String = s"$root/${ident.name}"

  private def checkNs(ident: Identifier): Unit =
    if (!(ident.namespace.isEmpty || ident.namespace.sameElements(Array(TableNs))))
      throw new NoSuchTableException(ident)

  /** A table exists when its directory carries either committed history
    * or a declared schema (a created-but-not-yet-written stream target).
    */
  private def exists(ident: Identifier): Boolean = {
    val d = dirOf(ident)
    VersionedManifest.latestCommitted(spark, d).isDefined ||
      VersionedManifest.readSchema(spark, d).isDefined
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Array(TableNs)))
      throw new NoSuchNamespaceException(namespace)
    if (pinnedMode)
      return SnapshotCatalog.latest(spark, root).toSeq
        .flatMap(m => SnapshotCatalog.pins(spark, root, m).keys.toSeq.sorted)
        .map(Identifier.of(Array(TableNs), _)).toArray
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .filter(t => exists(Identifier.of(Array(TableNs), t)))
      .sorted
      .map(Identifier.of(Array(TableNs), _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // `<cat>.tables.<t>.history` — the DESCRIBE HISTORY metadata table
    // (Iceberg's `tbl.history` spelling): one row per committed version
    // from the manifest bodies, resolved driver-side at O(#versions)
    if (ident.namespace.length == 2 && ident.namespace()(0) == TableNs &&
        ident.name == "history") {
      val base = Identifier.of(Array(TableNs), ident.namespace()(1))
      if (!exists(base)) throw new NoSuchTableException(base)
      return new VersionedHistoryTable(
        s"$catName.$TableNs.${base.name}.history", dirOf(base))
    }
    checkNs(ident)
    if (pinnedMode) {
      val m = SnapshotCatalog.latest(spark, root).getOrElse(
        throw new NoSuchTableException(ident))
      return loadPinned(ident, m)
    }
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new VersionedTable(s"$catName.$TableNs.${ident.name}", dirOf(ident), None)
  }

  /** Pinned-mode resolution: table → ITS version under catalog pin `m`.
    * A table the pin set does not name is absent from this snapshot —
    * NoSuchTable, even if table-level commits exist (they are in-flight
    * until a catalog pin references them).
    */
  private def loadPinned(ident: Identifier, m: Long): Table = {
    val pin = SnapshotCatalog.pins(spark, root, m).getOrElse(ident.name,
      throw new NoSuchTableException(ident))
    new VersionedTable(s"$catName.$TableNs.${ident.name}@cat$m",
      dirOf(ident), Some(pin))
  }

  /** `VERSION AS OF <v>` — the SQL spelling of readAt's refusal: only
    * COMMITTED versions resolve; anything else fails the query at
    * analysis time.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    checkNs(ident)
    val numeric =
      try Some(version.toLong)
      catch { case _: NumberFormatException => None }
    // pinned mode: VERSION AS OF addresses CATALOG history — every table
    // time-travels to its version under that one pin (numeric only; tags
    // are table-level names)
    if (pinnedMode) return loadPinned(ident, numeric.getOrElse(
      throw new IllegalArgumentException(
        s"$catName catalog pins are numeric ids, got '$version'")))
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val d = dirOf(ident)
    // non-numeric versions resolve as RELEASE TAGS (`_refs/<name>`), then
    // as BRANCH HEADS (`_branches/<name>`) — `VERSION AS OF 'release-a'`
    // is the citable IMMUTABLE spelling, `VERSION AS OF 'main'` the
    // MUTABLE one that follows fast-forwards (Iceberg's branch reads);
    // an unknown name refuses at analysis time, exactly like an
    // uncommitted numeric version. Tags shadow branches on a name clash
    // — the immutable citation must never silently start moving.
    val n = numeric.orElse(VersionedManifest.resolveRef(spark, d, version))
      .orElse(VersionedManifest.branchHead(spark, d, version).map(_._2))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a numeric version, a tag, nor a branch at $d"))
    if (!VersionedManifest.committedVersions(spark, d).contains(n))
      throw new IllegalStateException(s"version $n at $d is not committed")
    new VersionedTable(s"$catName.$TableNs.${ident.name}@v$n", d, Some(n))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; resolved
    * against manifest commit (rename) times.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    checkNs(ident)
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val d = dirOf(ident)
    val n = VersionedManifest.versionAtTimestamp(spark, d, timestamp / 1000L)
    new VersionedTable(s"$catName.$TableNs.${ident.name}@v$n", d, Some(n))
  }

  /** CREATE TABLE declares the schema (stored as `_schema` DDL) and
    * nothing else — version 1 arrives with the first committed write.
    * This is the path `writeStream.toTable` takes for a fresh target.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    checkNs(ident)
    if (exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (info.partitions().nonEmpty)
      throw new UnsupportedOperationException(
        s"$catName tables version whole directories; partition transforms " +
          "are not supported")
    val schema = StructType(info.columns().map(c =>
      StructField(c.name, c.dataType, c.nullable)))
    VersionedManifest.writeSchema(spark, dirOf(ident), schema)
    new VersionedTable(s"$catName.$TableNs.${ident.name}", dirOf(ident), None)
  }

  /** ATOMIC CTAS / RTAS — the [[org.apache.spark.sql.connector.catalog
    * .StagingTableCatalog]] face: `CREATE [OR REPLACE] TABLE … AS
    * SELECT` stages its whole output under a writer-unique data dir and
    * only [[StagedVersionedTable.commitStagedChanges]] — one manifest
    * rename — makes it a version. The property Spark's non-atomic CTAS
    * path cannot give: a failed SELECT (Spark calls
    * `abortStagedChanges`) leaves the previous snapshot byte-identical
    * and the staging reclaimed; readers can never observe a
    * half-replaced table. REPLACE is a NEW table contract: the manifest
    * re-addresses ONLY the staged dir (prior versions stay
    * time-travelable) and the declared `_schema` is rewritten to the
    * query's schema — the one DDL path that may retype, because nothing
    * of the old data survives into the new snapshot (contrast the
    * append-side evolution gate, q373).
    */
  override def stageCreate(ident: Identifier, info: TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    checkNs(ident)
    if (exists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    stage(ident, info)
  }
  override def stageReplace(ident: Identifier, info: TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    checkNs(ident)
    if (!exists(ident)) throw new NoSuchTableException(ident)
    stage(ident, info)
  }
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    checkNs(ident)
    stage(ident, info)
  }
  private def stage(ident: Identifier, info: TableInfo): StagedVersionedTable = {
    if (info.partitions().nonEmpty)
      throw new UnsupportedOperationException(
        s"$catName tables version whole directories; partition transforms " +
          "are not supported")
    val schema = StructType(info.columns().map(c =>
      StructField(c.name, c.dataType, c.nullable)))
    new StagedVersionedTable(s"$catName.$TableNs.${ident.name}",
      dirOf(ident), schema)
  }

  private def managed: Nothing = throw new UnsupportedOperationException(
    s"$catName manages versions through the manifest: append via the " +
      "streaming write, reclaim via vacuum; there is no ALTER/DROP surface")
  override def alterTable(ident: Identifier, changes: TableChange*): Table = managed
  override def dropTable(ident: Identifier): Boolean = managed
  override def renameTable(old: Identifier, next: Identifier): Unit = managed

  /** Control plane: `CALL <cat>.sys.rollback(table, version)` — q292's
    * pointer-flip restore (Delta RESTORE / Iceberg rollback) as a stored
    * procedure: one new manifest addressing the good version's existing
    * dirs, zero data movement, full history (bad version included)
    * preserved for forensics.
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Array(ProcNs)))
      throw new NoSuchNamespaceException(namespace)
    Array("rollback", "create_branch", "fast_forward", "expire_snapshots",
      "merge", "update").map(Identifier.of(Array(ProcNs), _))
  }
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(Array(ProcNs)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    ident.name match {
      case "rollback" => new RollbackProcedure(root)
      case "create_branch" => new CreateBranchProcedure(root)
      case "fast_forward" => new FastForwardProcedure(root)
      case "expire_snapshots" => new ExpireSnapshotsProcedure(root)
      case "merge" => new MergeProcedure(root)
      case "update" => new UpdateProcedure(root)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
  }
}

object VersionedCatalog {
  private[sources] val TableNs = "tables"
  private[sources] val ProcNs = "sys"

  /** Register catalog `name` over the versioned tables under `root` on `s`
    * (`pinned`: resolve through the multi-table snapshot pins); the only
    * writer of a versioned catalog's keys. Returns `name`. A session keeps
    * a name's first root: mount a fixed name on the query's own child. */
  def mount(s: SparkSession, name: String, root: String, pinned: Boolean = false): String = {
    s.conf.set(s"spark.sql.catalog.$name", classOf[VersionedCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.root", root)
    if (pinned) s.conf.set(s"spark.sql.catalog.$name.pinned", "true")
    name
  }
}

/** The staged side of an atomic CTAS/RTAS: rows land under a
  * writer-unique `d-rtas-<token>` dir via the V1 batch-write fallback
  * (the executor write is Spark's own parquet path — no bespoke row
  * writer), and the version becomes visible ONLY in
  * [[commitStagedChanges]]: `_schema` rewritten to the query's schema,
  * then one [[VersionedManifest.tryCommit]] addressing exactly the
  * staged dir. A lost commit race surfaces as
  * `ConcurrentModificationException` (the q284/q374 OCC contract);
  * [[abortStagedChanges]] deletes the staging so a failed query leaves
  * neither a version nor an orphan.
  *
  * Scale: staging cost is the SELECT's own write; commit is one rename
  * regardless of size — the atomicity does not add a data pass.
  */
private[sources] class StagedVersionedTable(qualName: String, dir: String,
    declared: StructType)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private def spark = SparkSession.active
  private val sub = s"d-rtas-${java.util.UUID.randomUUID.toString.take(8)}"
  @volatile private var written = false

  override def name(): String = qualName
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // RTAS plans an overwrite of the (empty) staged table — accepting
    // truncate/overwrite-by-true is a no-op on a fresh staging dir
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      override def truncate(): WriteBuilder = this
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = this
      override def build(): Write = new org.apache.spark.sql.connector.write.V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          new org.apache.spark.sql.sources.InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              data.write.mode("overwrite").parquet(s"$dir/$sub")
              written = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    if (!written) throw new IllegalStateException(
      s"staged table $qualName committed before its query wrote")
    VersionedManifest.writeSchema(spark, dir, declared)
    val n = VersionedManifest.latestCommitted(spark, dir).getOrElse(0L) + 1
    val head = if (n == 1) "create table as select" else "replace table as select"
    if (!VersionedManifest.tryCommit(spark, dir, n, s"$head\ndata=$dir/$sub"))
      throw new java.util.ConcurrentModificationException(
        s"version $n at $dir was committed concurrently — staged $sub aborted")
  }

  override def abortStagedChanges(): Unit = {
    val p = new Path(s"$dir/$sub")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** `CALL <cat>.sys.rollback(table STRING, version BIGINT)` — commit a
  * NEW version whose manifest re-addresses the target version's data
  * dirs (and carries its format), returning the receipt
  * (table, rolled_back_to, new_version). History is append-only; the
  * rolled-past versions stay time-travelable; vacuum's referenced-set
  * walk keeps the shared dirs alive. Cost: one manifest create,
  * regardless of table size.
  */
private[sources] class RollbackProcedure(root: String)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}

  override def name(): String = "rollback"
  override def description(): String =
    "rollback(table STRING, version BIGINT): restore the table's state " +
      "to a committed version by pointer flip (new manifest, no copy)"
  override def bind(inputType: StructType): RollbackProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = input.getUTF8String(0).toString
    // spliced into an estate path: CALL arguments are user input
    require(table.matches("[A-Za-z0-9_.-]+"),
      s"table must be a bare name, got '$table'")
    val target = input.getLong(1)
    val dir = s"$root/$table"
    require(VersionedManifest.committedVersions(spark, dir).contains(target),
      s"version $target at $dir is not committed")
    val dirs = VersionedManifest.resolveDataDirs(spark, dir, target)
    val fmt = VersionedManifest.formatOf(spark, dir, target)
    var newV = 0L
    var done = false
    while (!done) {
      newV = VersionedManifest.latestCommitted(spark, dir).getOrElse(0L) + 1
      done = VersionedManifest.tryCommit(spark, dir, newV,
        (dirs.map("data=" + _) :+ s"format=$fmt" :+
          s"rollback to version $target").mkString("\n"))
    }
    val receipt = new LocalScan {
      override def readSchema(): StructType = StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("rolled_back_to", LongType, nullable = false),
        StructField("new_version", LongType, nullable = false)))
      override def rows(): Array[InternalRow] = Array(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(table),
        target, newV))
    }
    java.util.Collections.singletonList[Scan](receipt).iterator()
  }
}

/** Shared plumbing for the estate stored procedures: bare-name validation
  * (CALL arguments are user input spliced into estate paths) and the
  * one-row LocalScan receipt shape.
  */
private[sources] trait EstateProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}

  override def isDeterministic: Boolean = false

  protected def checkName(v: String, what: String): String = {
    require(v.matches("[A-Za-z0-9_.-]+"), s"$what must be a bare name, got '$v'")
    v
  }

  protected def receipt(sch: StructType, data: Array[InternalRow])
      : java.util.Iterator[Scan] = {
    val scan = new LocalScan {
      override def readSchema(): StructType = sch
      override def rows(): Array[InternalRow] = data
    }
    java.util.Collections.singletonList[Scan](scan).iterator()
  }

  protected def utf8(s: String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
}

/** `CALL <cat>.sys.create_branch(table, branch, version)` — q349's
  * createBranch as the SQL control plane: a mutable ref born at a
  * committed version (dangling refuses; duplicate names refuse via the
  * OCC log's exclusive create). O(1) pointer work.
  */
private[sources] class CreateBranchProcedure(root: String) extends EstateProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.Scan

  override def name(): String = "create_branch"
  override def description(): String =
    "create_branch(table STRING, branch STRING, version BIGINT)"
  override def bind(inputType: StructType): CreateBranchProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("branch", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = checkName(input.getUTF8String(0).toString, "table")
    val branch = checkName(input.getUTF8String(1).toString, "branch")
    val v = input.getLong(2)
    VersionedManifest.createBranch(spark, s"$root/$table", branch, v)
    receipt(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("branch", StringType, nullable = false),
        StructField("version", LongType, nullable = false))),
      Array(InternalRow(utf8(table), utf8(branch), v)))
  }
}

/** `CALL <cat>.sys.fast_forward(table, branch, version)` — the publish
  * step of q349's branch-and-publish as SQL: CAS-advance the branch head
  * to a committed version, retrying on a lost race (the loser rebases on
  * the new head, exactly like writers racing tryCommit). Receipt carries
  * (from_version, to_version, seq).
  */
private[sources] class FastForwardProcedure(root: String) extends EstateProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.Scan

  override def name(): String = "fast_forward"
  override def description(): String =
    "fast_forward(table STRING, branch STRING, version BIGINT)"
  override def bind(inputType: StructType): FastForwardProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("branch", StringType).build(),
    ProcedureParameter.in("version", LongType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = checkName(input.getUTF8String(0).toString, "table")
    val branch = checkName(input.getUTF8String(1).toString, "branch")
    val v = input.getLong(2)
    val dir = s"$root/$table"
    var fromV = 0L
    var seq = 0L
    var done = false
    while (!done) {
      val (s0, v0) = VersionedManifest.branchHead(spark, dir, branch)
        .getOrElse(throw new IllegalStateException(
          s"branch $branch does not exist at $dir"))
      fromV = v0
      seq = s0 + 1
      done = VersionedManifest.advanceBranch(spark, dir, branch, s0, v)
    }
    receipt(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("branch", StringType, nullable = false),
        StructField("from_version", LongType, nullable = false),
        StructField("to_version", LongType, nullable = false),
        StructField("seq", LongType, nullable = false))),
      Array(InternalRow(utf8(table), utf8(branch), fromV, v, seq)))
  }
}

/** `CALL <cat>.sys.merge(table, source, key)` — q366's copy-on-write
  * upsert as the SQL control plane: `source` is any SQL-resolvable
  * relation name (a temp view staged by the caller — the stored-proc
  * merge spelling Iceberg/Delta estates expose when full MERGE INTO
  * isn't available to a client), `key` the upsert column. The receipt
  * carries the published version and the affected/untouched dir split —
  * the caller SEES that the merge rewrote two dirs out of two hundred.
  * All of [[VersionedManifest.merge]]'s contracts ride along: duplicate
  * source keys refuse, declared constraints validate the output before
  * publish, a lost race throws for an OCC rebase.
  */
private[sources] class MergeProcedure(root: String) extends EstateProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.Scan

  override def name(): String = "merge"
  override def description(): String =
    "merge(table STRING, source STRING, key STRING)"
  override def bind(inputType: StructType): MergeProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("source", StringType).build(),
    ProcedureParameter.in("key", StringType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = checkName(input.getUTF8String(0).toString, "table")
    val source = input.getUTF8String(1).toString
    val key = checkName(input.getUTF8String(2).toString, "key")
    val (v, affected, untouched) =
      VersionedManifest.merge(spark, s"$root/$table", spark.table(source), key)
    receipt(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("key", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("n_affected_dirs", LongType, nullable = false),
        StructField("n_untouched_dirs", LongType, nullable = false))),
      Array(InternalRow(utf8(table), utf8(key), v,
        affected.size.toLong, untouched.size.toLong)))
  }
}

/** `CALL <cat>.sys.update(table, predicate, column, value_expr)` — the
  * copy-on-write UPDATE ([[VersionedManifest.updateWhere]]) as a stored
  * procedure, completing the estate's SQL DML trio beside DELETE
  * (SupportsDelete, q384) and merge (q370). The RHS evaluates against
  * the pre-update row and is cast back to the column's type; only dirs
  * containing matching rows rewrite. The receipt carries the published
  * version and the affected/untouched dir split — the same evidence
  * shape as merge.
  */
private[sources] class UpdateProcedure(root: String) extends EstateProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.Scan

  override def name(): String = "update"
  override def description(): String =
    "update(table STRING, predicate STRING, column STRING, value_expr STRING)"
  override def bind(inputType: StructType): UpdateProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("predicate", StringType).build(),
    ProcedureParameter.in("column", StringType).build(),
    ProcedureParameter.in("value_expr", StringType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = checkName(input.getUTF8String(0).toString, "table")
    val predicate = input.getUTF8String(1).toString
    val column = checkName(input.getUTF8String(2).toString, "column")
    val valueExpr = input.getUTF8String(3).toString
    val (v, affected, untouched) = VersionedManifest.updateWhere(
      spark, s"$root/$table", predicate, Seq(column -> valueExpr))
    receipt(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("n_affected_dirs", LongType, nullable = false),
        StructField("n_untouched_dirs", LongType, nullable = false))),
      Array(InternalRow(utf8(table), v,
        affected.size.toLong, untouched.size.toLong)))
  }
}

/** `CALL <cat>.sys.expire_snapshots(table, keep_last)` — q355's retention
  * pass as SQL: one receipt row per expired version (refs pin their
  * targets; only unreachable dirs are reclaimed — the Scala
  * [[VersionedManifest.expireSnapshots]] contract verbatim).
  */
private[sources] class ExpireSnapshotsProcedure(root: String) extends EstateProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
  import org.apache.spark.sql.connector.read.Scan

  override def name(): String = "expire_snapshots"
  override def description(): String =
    "expire_snapshots(table STRING, keep_last BIGINT)"
  override def bind(inputType: StructType): ExpireSnapshotsProcedure = this
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("keep_last", LongType).build())

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = checkName(input.getUTF8String(0).toString, "table")
    val keep = input.getLong(1)
    val expired = VersionedManifest
      .expireSnapshots(spark, s"$root/$table", keep.toInt)
    receipt(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("expired_version", LongType, nullable = false))),
      expired.map(v => InternalRow(utf8(table), v)).toArray)
  }
}

/** One snapshot of a versioned table: `pinned` = Some(n) for time travel,
  * None = newest committed, resolved ONCE at construction (analysis time)
  * so a commit landing after planning never retargets a running query.
  * Reads delegate to Spark's own file-source V2 table for the version's
  * format; writes expose the streaming face only (batch writers use the
  * Scala manifest API directly — q247/q284's commit/tryCommit).
  */
private[sources] class VersionedTable(qualName: String, dir: String,
                                      pinned: Option[Long])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def spark = SparkSession.active
  private val resolved: Option[Long] =
    pinned.orElse(VersionedManifest.latestCommitted(spark, dir))

  /** SQL `DELETE FROM <cat>.tables.<t> WHERE …` — q256's copy-on-write
    * delete ([[VersionedManifest.deleteWhere]]) reached without Scala:
    * only the data dirs containing matching rows rewrite, every other
    * dir re-addresses untouched, and the delete is a NEW VERSION (prior
    * snapshots stay time-travelable — pair with expire+vacuum for
    * erasure, q371). Spark hands the WHERE as V1 filters; the supported
    * subset (comparisons/null-tests on a column vs a literal, AND) is
    * exactly what translates losslessly to the manifest predicate —
    * `canDeleteWhere` refuses anything else so Spark reports the
    * unsupported shape at analysis time instead of a wrong delete.
    * Deletes address the LATEST snapshot only (a pinned time-travel
    * table refuses), and only uniform-parquet snapshots qualify (a
    * stream-landed JSON feed compacts first, q326).
    */
  private def filterSql(f: org.apache.spark.sql.sources.Filter): Option[String] = {
    def litSql(v: Any): Option[String] = v match {
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case n @ (_: Int | _: Long | _: Short | _: Byte) => Some(n.toString)
      case d: Double => Some(d.toString)
      case f0: Float => Some(f0.toDouble.toString)
      case b: Boolean => Some(b.toString)
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case _ => None // dates/timestamps/binary: refuse, don't guess
    }
    def col(a: String): Option[String] =
      if (a.matches("[A-Za-z_][A-Za-z0-9_]*")) Some(s"`$a`") else None
    import org.apache.spark.sql.sources._
    f match {
      case AlwaysTrue() => Some("true")
      case EqualTo(a, v) => for (c <- col(a); l <- litSql(v)) yield s"$c = $l"
      case LessThan(a, v) => for (c <- col(a); l <- litSql(v)) yield s"$c < $l"
      case LessThanOrEqual(a, v) =>
        for (c <- col(a); l <- litSql(v)) yield s"$c <= $l"
      case GreaterThan(a, v) =>
        for (c <- col(a); l <- litSql(v)) yield s"$c > $l"
      case GreaterThanOrEqual(a, v) =>
        for (c <- col(a); l <- litSql(v)) yield s"$c >= $l"
      case IsNull(a) => col(a).map(c => s"$c IS NULL")
      case IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
      case In(a, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(litSql)
        for (c <- col(a); l <- if (ls.forall(_.isDefined))
          Some(ls.flatten.mkString(", ")) else None) yield s"$c IN ($l)"
      case And(l, r) =>
        for (ls <- filterSql(l); rs <- filterSql(r)) yield s"($ls AND $rs)"
      case _ => None
    }
  }

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinned.isEmpty && filters.forall(filterSql(_).isDefined) &&
      dirsWithFmt.nonEmpty && dirsWithFmt.forall(_._2 == "parquet")

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(canDeleteWhere(filters), s"unsupported DELETE shape: " +
      filters.mkString(", "))
    val pred =
      if (filters.isEmpty) "true"
      else filters.flatMap(filterSql(_)).mkString(" AND ")
    VersionedManifest.deleteWhere(spark, dir, pred)
  }
  private lazy val declared: Option[StructType] =
    VersionedManifest.readSchema(spark, dir)

  private lazy val dirsWithFmt: Seq[(String, String)] = resolved
    .map(n => VersionedManifest.resolveDataDirsWithFormat(spark, dir, n))
    .getOrElse(Seq.empty)
  // single-format snapshots get the stock file-source delegate (full
  // pushdown); a MIXED snapshot (JSON epochs + an appended parquet
  // correction batch, the transitional state between append and
  // compaction) has no single delegate — it reads through the per-file
  // feed readers instead ([[VersionedSnapshotBatch]]): correct but
  // unoptimized, and compaction restores the fast path
  private lazy val uniformFmt: Option[String] =
    dirsWithFmt.map(_._2).distinct match {
      case Seq(one) => Some(one)
      case _ => None
    }

  private lazy val delegate: Option[Table] = uniformFmt.map { fmt =>
    val paths = dirsWithFmt.map(_._1)
    val opts = new CaseInsensitiveStringMap(JCollections.emptyMap())
    fmt match {
      case "json" => JsonTable(qualName, spark, opts, paths, declared,
        classOf[org.apache.spark.sql.execution.datasources.json.JsonFileFormat])
      case _ => ParquetTable(qualName, spark, opts, paths, declared,
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    }
  }

  override def name(): String = qualName
  override def schema(): StructType =
    delegate.map(_.schema()).orElse(declared).getOrElse(
      throw new IllegalStateException(
        s"no committed version and no declared schema at $dir"))
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Batch scans hand back the DELEGATE's ScanBuilder untouched — Spark
    * introspects pushdown interfaces ON THE BUILDER, so wrapping it would
    * silently drop parquet filter/column pushdown. The streaming read
    * (json-format tables — the stream-landed shape) instead wraps: its
    * Scan serves `toBatch` from the delegate and `toMicroBatchStream`
    * from the manifest commit log ([[VersionedMicroBatchStream]]). A
    * JSON builder has no data-skipping pushdown to lose.
    */
  /** A FEED table: any committed version carries non-parquet dirs or a
    * `dataChange=false` rewrite — i.e. the table was stream-landed or
    * compacted. Feed tables keep the micro-batch-capable scan wrapper even
    * when the LATEST snapshot is uniform parquet (a post-compaction
    * subscriber keeps following the commit log); pure-batch parquet tables
    * never take the wrapper, so their pinned delegate pushdown is intact.
    * Cost: O(#versions) one-line manifest reads, the price snapshot
    * resolution already pays.
    */
  private lazy val feedTable: Boolean =
    VersionedManifest.committedVersions(spark, dir).exists { n =>
      !VersionedManifest.dataChange(spark, dir, n) ||
        VersionedManifest.resolveDataDirsWithFormat(spark, dir, n)
          .exists(_._2 != "parquet")
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (resolved.isEmpty)
      throw new IllegalStateException(s"no committed version at $dir")
    val inner = delegate.map {
      case r: SupportsRead => r.newScanBuilder(options)
      case _ => throw new IllegalStateException("delegate is not readable")
    }
    // pure-batch uniform parquet: the delegate's builder untouched (full
    // pushdown); batch tables never stream. Feed tables (json, MIXED, or
    // compacted history): wrap — batch from the delegate when one exists,
    // else the per-file snapshot readers; stream from the manifest commit
    // log in every case. A feed table's batch scan trades pushdown for
    // streamability; a shallow clone (q307) gives a pushdown batch twin.
    if (uniformFmt.contains("parquet") && !feedTable) inner.get
    else {
      val tableDir = dir
      val sch = declared.getOrElse(schema())
      val snapshotDirs = dirsWithFmt
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.Scan {
            private lazy val innerScan = inner.map(_.build())
            override def readSchema(): StructType = sch
            override def toBatch: org.apache.spark.sql.connector.read.Batch =
              innerScan.map(_.toBatch).getOrElse(
                new VersionedSnapshotBatch(snapshotDirs, sch))
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
              new VersionedMicroBatchStream(tableDir, sch,
                Option(options.get("maxVersionsPerBatch")).map(_.toLong),
                Option(options.get("branch")))
            override def description(): String =
              s"graft_versioned_scan($tableDir)"
          }
      }
    }
  }

  /** The BATCH write face (r11: the table's last missing direction) —
    * `INSERT INTO` appends through both write-time gates
    * ([[VersionedManifest.appendBatch]]: schema footer + constraints,
    * refusal = no manifest), `INSERT OVERWRITE` / DataFrameWriterV2
    * `.overwrite(cond)` is the predicate-scoped atomic replace
    * ([[VersionedManifest.overwriteWhere]] — Delta's replaceWhere at
    * dir granularity; TRUNCATE arrives as the AlwaysTrue filter).
    * Filters translate through the same `filterSql` subset as SQL
    * DELETE — an untranslatable predicate refuses at write-build time,
    * never overwrites wrong. Writes address the LATEST snapshot only:
    * a pinned time-travel table refuses. Implemented as a V1Write
    * (the same InsertableRelation fallback the staged CTAS path uses):
    * the manifest machinery IS the distributed write — rows land via
    * the stock parquet writer, the commit is one atomic rename.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // None = append; Some(pred) = predicate-scoped overwrite
      private var pred: Option[String] = None
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        val parts = filters.toSeq.map(filterSql)
        require(parts.forall(_.isDefined),
          s"unsupported overwrite predicate: ${filters.mkString(", ")}")
        pred = Some(if (filters.isEmpty) "true"
          else parts.flatten.mkString(" AND "))
        this
      }
      override def build(): Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toStreaming: StreamingWrite = {
            // stable across restarts when the caller sets it — the epoch
            // marker's namespace (a queryId changes per run)
            val tag = Option(info.options.get("writerTag"))
              .getOrElse(info.queryId)
            new VersionedStreamingWrite(dir, tag, info.schema)
          }
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                require(pinned.isEmpty,
                  "cannot write to a time-travel snapshot")
                pred match {
                  case None =>
                    VersionedManifest.appendBatch(
                      SparkSession.active, dir, data, "sql append")
                  case Some(p) =>
                    VersionedManifest.overwriteWhere(
                      SparkSession.active, dir, p, data)
                }
              }
            }
        }
    }
}

/** The DESCRIBE HISTORY metadata table: (version, format, operation) per
  * committed version, read from the manifest bodies at plan time — the
  * audit surface `VersionedManifest.describe` exposes in Scala, now one
  * SQL SELECT away. Commit timestamps are deliberately NOT a column here
  * (they vary run to run and belong to `TIMESTAMP AS OF` resolution);
  * `operation` is the writer's description with the addressing
  * (`data=`/`format=`/`epoch=`) lines stripped.
  *
  * Scale: O(#versions) one-line manifest reads on the driver — the same
  * cost every snapshot resolution already pays; no executor work.
  */
private[sources] class VersionedHistoryTable(qualName: String, dir: String)
    extends Table with SupportsRead {
  private def spark = SparkSession.active

  private val histSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("operation", StringType, nullable = false)))

  override def name(): String = qualName
  override def schema(): StructType = histSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val s = spark
    val data = VersionedManifest.committedVersions(s, dir).map { n =>
      val op = VersionedManifest.describe(s, dir, n).linesIterator
        .filterNot(l => l.startsWith("format=") || l.startsWith("epoch=") ||
          l.startsWith("dataChange="))
        .mkString("\n").trim
      InternalRow(n,
        org.apache.spark.unsafe.types.UTF8String
          .fromString(VersionedManifest.formatOf(s, dir, n)),
        org.apache.spark.unsafe.types.UTF8String.fromString(op))
    }.toArray
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = histSchema
          override def rows(): Array[InternalRow] = data
        }
    }
  }
}

private[sources] case class VersionedEpochFile(stagedPath: String)
    extends WriterCommitMessage

/** The DSv2 streaming write whose EPOCH COMMIT is the manifest commit —
  * q231's staged-epoch protocol and q252's versioned idempotence as one
  * mechanism. Tasks stage typed JSON-lines part files under
  * `.staging-<tag>/`; the driver's per-epoch commit moves them into an
  * epoch-unique data dir `d-<tag>-e<epoch>` and publishes it as the next
  * version via [[VersionedManifest.tryCommit]], recording `epoch=<tag>:<n>`
  * in the manifest body. Idempotence needs no sink-side log: a REPLAYED
  * epoch (restart in the at-least-once window) finds its marker in
  * committed history, discards its staged files, and lands nothing; a
  * lost optimistic race rebases onto the next version number. A failed
  * epoch leaves only an unreferenced `d-*` dir — vacuumable (q249),
  * never visible.
  *
  * Scale: one manifest create per micro-batch regardless of batch size;
  * the replay check reads O(#versions) one-line manifests — the same
  * listing cost every reader already pays.
  */
private[sources] class VersionedStreamingWrite(dir: String, tag: String,
                                               schema: StructType)
    extends StreamingWrite {

  private def spark = SparkSession.active
  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def stagePath = new Path(dir, s".staging-$tag")

  private def marker(epochId: Long) = s"epoch=$tag:$epochId"

  private def alreadyCommitted(epochId: Long): Boolean =
    VersionedManifest.committedVersions(spark, dir).exists(v =>
      VersionedManifest.describe(spark, dir, v).linesIterator
        .contains(marker(epochId)))

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    fsOf(stagePath).mkdirs(stagePath)
    val d = dir; val t = tag; val s = schema
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        new VersionedEpochWriter(d, t, s,
          f"part-e$epochId-$partitionId%05d-$taskId.json", conf)
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = fsOf(new Path(dir))
    def dropStaged(): Unit = messages.foreach {
      case VersionedEpochFile(p) => fs.delete(new Path(p), false)
      case _ => ()
    }
    if (alreadyCommitted(epochId)) { dropStaged(); return }
    val dataSub = s"d-$tag-e$epochId"
    val dataDir = new Path(dir, dataSub)
    fs.mkdirs(dataDir)
    messages.foreach {
      case VersionedEpochFile(staged) =>
        val src = new Path(staged)
        if (fs.exists(src)) {
          val dst = new Path(dataDir, src.getName)
          fs.delete(dst, false)
          if (!fs.rename(src, dst))
            throw new IllegalStateException(
              s"stage->data rename $src -> $dst failed at epoch $epochId")
        }
      case _ => ()
    }
    // data fully landed; now the commit POINT: claim the next version
    // optimistically, rebasing while concurrent commits win slots. Each
    // version's manifest is CUMULATIVE — the previous version's data
    // dirs plus this epoch's — so the catalog's latest-version read sees
    // the whole table, not the last micro-batch (the snapshot-references-
    // all-live-files discipline of a real table format; compaction folds
    // the dir list back down, q245/q296).
    var done = false
    while (!done) {
      val latest = VersionedManifest.latestCommitted(spark, dir)
      val prev = latest.toSeq.flatMap { v =>
        val fmt = VersionedManifest.formatOf(spark, dir, v)
        if (fmt != "json") throw new IllegalStateException(
          s"streaming append needs a json-format (or empty) table; " +
            s"version $v at $dir is $fmt — compact or start a fresh table")
        VersionedManifest.resolveDataDirs(spark, dir, v)
      }
      val n = latest.getOrElse(0L) + 1
      val meta = (prev.map("data=" + _) :+ s"data=$dataSub")
        .mkString("\n") +
        s"\nformat=json\n${marker(epochId)}\nstreaming ingest epoch $epochId"
      done = VersionedManifest.tryCommit(spark, dir, n, meta)
      // a same-tag racer can only be a zombie replaying THIS epoch: if
      // the marker landed meanwhile, this attempt's data dir is garbage
      // (unreferenced — vacuum reclaims it) and the epoch is done
      if (!done && alreadyCommitted(epochId)) done = true
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = fsOf(new Path(dir))
    messages.foreach {
      case VersionedEpochFile(p) => fs.delete(new Path(p), false)
      case _ => ()
    }
  }
}

private[sources] case class VersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

private[sources] case class VersionedFilePartition(path: String,
                                                   format: String)
    extends org.apache.spark.sql.connector.read.InputPartition

/** The versioned table's STREAMING READ — the commit log AS the offset
  * log: each manifest version is an offset, a micro-batch covers the
  * versions in `(start, end]`, and its input partitions are exactly the
  * data files those versions ADDED (cumulative manifests diff against
  * their predecessor, so nothing is re-read). This is q279's
  * committed-versions feed lifted from file-staging into the DSv2
  * `MicroBatchStream` contract: `readStream.table(...)` gets
  * exactly-once progress from the checkpoint's offset log with no
  * staging dir, and an orphan (uncommitted) version is invisible to
  * subscribers exactly as it is to batch readers. `AvailableNow` pins
  * its target version at query start ([[prepareForTriggerAvailableNow]]),
  * so commits landing mid-run wait for the next start — the same
  * plan-time snapshot rule the batch read follows.
  *
  * Scale: offset resolution is O(#versions) manifest names; a batch's
  * planning cost is O(its new files). Readers never list data dirs of
  * versions they already processed.
  */
private[sources] class VersionedMicroBatchStream(dir: String,
                                                 schema: StructType,
                                                 maxVersionsPerBatch: Option[Long] = None,
                                                 followBranch: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = SparkSession.active
  // branch-scoped subscription (read option `branch`): the visibility
  // horizon is the BRANCH HEAD, not the newest commit — versions landed
  // past the pointer (staged experiments, unpublished corrections) never
  // reach this subscriber until a fast-forward advances the branch
  // (q349's publish gate, extended to streaming consumers). An unknown
  // branch refuses loudly — silently draining the whole table would be
  // exactly the isolation violation the option exists to prevent.
  private def latestCommitted: Long = followBranch match {
    case None => VersionedManifest.latestCommitted(spark, dir).getOrElse(0L)
    case Some(b) => VersionedManifest.branchHead(spark, dir, b)
      .map(_._2)
      .getOrElse(throw new IllegalStateException(
        s"branch $b does not exist at $dir"))
  }

  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestCommitted)

  override def initialOffset(): Offset = VersionOffset(0L)
  override def latestOffset(): Offset =
    VersionOffset(availableNowTarget.getOrElse(latestCommitted))
  // SupportsAdmissionControl face (inherited via the AvailableNow
  // contract): ADMISSION CONTROL in the source's own granularity — the
  // read option `maxVersionsPerBatch` caps how many COMMITTED VERSIONS
  // one micro-batch admits (a backlogged subscriber catches up in
  // bounded bites instead of one table-sized batch; Spark's row/file
  // ReadLimits translate poorly to commit granularity, so the cap is a
  // source option, the same way file sources own maxFilesPerTrigger).
  // The micro-batch loop keeps firing until offsets reach the (possibly
  // AvailableNow-pinned) target, so a capped drain still delivers
  // everything — just across several exactly-once batches.
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = latestOffset().asInstanceOf[VersionOffset].v
    maxVersionsPerBatch match {
      case None => VersionOffset(target)
      case Some(m) =>
        require(m >= 1, s"maxVersionsPerBatch must be >= 1, got $m")
        val s0 = start.asInstanceOf[VersionOffset].v
        // committed versions need not be contiguous: admit the next m ids
        val admitted = VersionedManifest.committedVersions(spark, dir)
          .filter(n => n > s0 && n <= target).take(m.toInt)
        VersionOffset(if (admitted.isEmpty) s0 else admitted.last)
    }
  }
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = VersionOffset(latestCommitted)
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val s0 = start.asInstanceOf[VersionOffset].v
    val s1 = end.asInstanceOf[VersionOffset].v
    val sp = spark
    val committed = VersionedManifest.committedVersions(sp, dir)
    def dirsOf(n: Long): Set[String] =
      VersionedManifest.resolveDataDirs(sp, dir, n).toSet
    // a version's NEW data = its dirs minus its committed predecessor's
    // (cumulative manifests grow monotonically; the first version has no
    // predecessor and contributes everything). Versions marked
    // dataChange=false (compaction: same rows, new layout) contribute
    // NOTHING — a compaction must never replay the table into
    // subscribers, and the offset still advances past it normally.
    val newDirs = committed.filter(n => n > s0 && n <= s1)
      .filter(n => VersionedManifest.dataChange(sp, dir, n))
      .flatMap { n =>
        val prev = committed.filter(_ < n).lastOption
        dirsOf(n) -- prev.map(dirsOf).getOrElse(Set.empty)
      }.distinct
    newDirs.flatMap { d0 =>
      val p = new Path(d0)
      val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(pp => !pp.getName.startsWith(".") && !pp.getName.startsWith("_"))
        .flatMap { pp =>
          // dispatch on the PHYSICAL file: the epoch writer lands .json
          // parts, batch appends land .parquet — both flow to subscribers
          val fmt =
            if (pp.getName.endsWith(".json")) Some("json")
            else if (pp.getName.endsWith(".parquet")) Some("parquet")
            else None
          fmt.map(f0 => VersionedFilePartition(pp.toString, f0)
            : org.apache.spark.sql.connector.read.InputPartition)
        }
    }.toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new VersionedFeedReaderFactory(schema)
}

/** Batch read of a MIXED-format snapshot (per-dir `;format=` manifest
  * addressing): one input partition per data file, each tagged with its
  * dir's declared format, decoded by the same per-file readers the
  * streaming feed uses. No pushdown — the mixed state is transitional by
  * design (append → compaction); the single-format fast path returns with
  * the next compaction.
  */
private[sources] class VersionedSnapshotBatch(dirsWithFmt: Seq[(String, String)],
                                              schema: StructType)
    extends org.apache.spark.sql.connector.read.Batch {
  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    dirsWithFmt.flatMap { case (d0, fmt) =>
      val p = new Path(d0)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(pp => !pp.getName.startsWith(".") && !pp.getName.startsWith("_"))
        .map(pp => VersionedFilePartition(pp.toString, fmt)
          : org.apache.spark.sql.connector.read.InputPartition)
    }.toArray
  }
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new VersionedFeedReaderFactory(schema)
}

/** Executor-side decode with the DECLARED schema, dispatched on each
  * partition's physical format: `.json` epoch parts through the Jackson
  * reader (exact inverse of [[VersionedEpochWriter]], same type palette),
  * `.parquet` batch-append parts through parquet-mr's public Group API —
  * so a subscriber sees EVERY data-changing commit, whichever write face
  * produced it. Both readers go through the Hadoop FileSystem so a
  * multi-node deployment reads shared storage.
  */
private[sources] class VersionedFeedReaderFactory(schema: StructType,
                                                  conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  /** Where the scan is planned: ship the active session's Hadoop conf. */
  def this(schema: StructType) = this(schema,
    new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration))
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[VersionedFilePartition]
    if (fp.format == "parquet")
      new VersionedParquetPartitionReader(fp.path, schema, conf.value)
    else new VersionedJsonPartitionReader(fp.path, schema, conf.value)
  }
}

/** Parquet part-file → InternalRow over the SAME type palette as the JSON
  * reader (long/int/double/boolean/string), via parquet-mr's example Group
  * API (public, already on every Spark classpath) — no dependence on
  * Spark-internal parquet readers. A column absent from the file's schema
  * (evolution) reads as NULL, matching the JSON reader's missing-field
  * behavior.
  */
private[sources] class VersionedParquetPartitionReader(path: String,
                                                       schema: StructType,
                                                       conf: Configuration)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  private val reader = org.apache.parquet.hadoop.ParquetReader
    .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
      new Path(path))
    .withConf(conf)
    .build()
  private var row: InternalRow = _

  override def next(): Boolean = {
    val g = reader.read()
    if (g == null) false
    else {
      row = InternalRow.fromSeq(schema.fields.toSeq.map { f =>
        if (!g.getType.containsField(f.name)) null
        else {
          val i = g.getType.getFieldIndex(f.name)
          if (g.getFieldRepetitionCount(i) == 0) null
          else f.dataType match {
            case LongType => g.getLong(i, 0)
            case IntegerType => g.getInteger(i, 0)
            case DoubleType => g.getDouble(i, 0)
            case BooleanType => g.getBoolean(i, 0)
            case StringType => org.apache.spark.unsafe.types.UTF8String
              .fromBytes(g.getBinary(i, 0).getBytes)
            case dt => throw new UnsupportedOperationException(
              s"versioned stream read supports long/int/double/boolean/string; " +
                s"got ${f.name}: ${dt.simpleString}")
          }
        }
      })
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

private[sources] class VersionedJsonPartitionReader(path: String,
                                                    schema: StructType,
                                                    conf: Configuration)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  private val in = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  private var row: InternalRow = _

  @scala.annotation.tailrec
  final override def next(): Boolean = {
    val line = in.readLine()
    if (line == null) false
    else if (line.trim.isEmpty) next()
    else {
      val node = mapper.readTree(line)
      row = InternalRow.fromSeq(schema.fields.toSeq.map { f =>
        val v = node.get(f.name)
        if (v == null || v.isNull) null
        else f.dataType match {
          case LongType => v.asLong()
          case IntegerType => v.asInt()
          case DoubleType => v.asDouble()
          case BooleanType => v.asBoolean()
          case StringType =>
            org.apache.spark.unsafe.types.UTF8String.fromString(v.asText())
          case dt => throw new UnsupportedOperationException(
            s"versioned stream read supports long/int/double/boolean/string; " +
              s"got ${f.name}: ${dt.simpleString}")
        }
      })
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** One task's epoch writer: rows → typed JSON lines in a staged part
  * file (Jackson: proper escaping, exact long/double round-trip under
  * the declared read schema). Stringly columns only would not do here —
  * the versioned stream carries event aggregates.
  */
private[sources] class VersionedEpochWriter(dir: String, tag: String,
                                            schema: StructType,
                                            fileName: String,
                                            conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper
  private val staged = new Path(new Path(dir, s".staging-$tag"), fileName)
  private val out = {
    val fs = LocalFs.unchecked(staged.getFileSystem(conf.value))
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(staged, true), java.nio.charset.StandardCharsets.UTF_8))
  }

  override def write(row: InternalRow): Unit = {
    val node = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) node.putNull(f.name)
      else f.dataType match {
        case LongType => node.put(f.name, row.getLong(i))
        case IntegerType => node.put(f.name, row.getInt(i))
        case DoubleType => node.put(f.name, row.getDouble(i))
        case BooleanType => node.put(f.name, row.getBoolean(i))
        case StringType => node.put(f.name, row.getUTF8String(i).toString)
        case dt => throw new UnsupportedOperationException(
          s"versioned stream ingest supports long/int/double/boolean/string " +
            s"columns; got ${f.name}: ${dt.simpleString} — cast upstream")
      }
    }
    out.write(mapper.writeValueAsString(node))
    out.write("\n")
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    VersionedEpochFile(staged.toString)
  }
  override def abort(): Unit = {
    out.close()
    staged.getFileSystem(conf.value).delete(staged, false)
  }
  override def close(): Unit = ()
}
