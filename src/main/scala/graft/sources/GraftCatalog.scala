package graft.sources

import java.util.{Map => JMap}

import graft.QueryModule
import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange, TableInfo, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The connector's CATALOG face — the way a real estate addresses its
  * tables and functions by IDENTIFIER instead of by path (the
  * Iceberg/Unity model): `spark.sql.catalog.<name> = GraftCatalog` makes
  * `SELECT … FROM <name>.articles.all` and
  * `<name>.fns.split_bucket(key, n)` resolve with no temp views and no
  * Scala in the query path.
  *
  * Three deliberate design points:
  *   - **The filesystem is the catalog state.** `loadTable`/`listTables`
  *     enumerate the corpus artifacts present under `dataDir` AT
  *     RESOLUTION TIME (the reference's `data/` directory is its implied
  *     catalog, SURVEY §3.3) — so a corpus landed by the write face
  *     appears, and one dropped by the metadata delete (q264) disappears,
  *     with no second registry to drift out of sync.
  *   - **Read-only DDL surface.** Corpora are landed by the upstream
  *     (write face, q226/q231) and removed by DELETE (q264);
  *     `CREATE/ALTER/DROP/RENAME TABLE` throw rather than invent a second
  *     mutation path.
  *   - **Functions ship with the catalog** ([[SplitBucket]]): the
  *     engine's seed-free md5 splitter — the q69/q238 spelling — bound as
  *     a V2 `ScalarFunction` whose magic `invoke` method Spark wires via
  *     a codegen'd `Invoke`, not a black-box UDF. This is how a table
  *     format exports its partition transforms (Iceberg's `bucket()`),
  *     and how every engine user gets THE canonical split, not a
  *     re-derivation that drifts.
  *
  * Scale: catalog calls are driver-side and O(#files) metadata-only; the
  * data path is the same pushdown-complete [[ArticlesTable]] scan.
  */
class GraftCatalog extends CatalogPlugin with TableCatalog with FunctionCatalog
    with ViewCatalog with ProcedureCatalog {
  import GraftCatalog._

  private var catName: String = _
  private var dataDir: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    dataDir = Option(options.get("dataDir")).getOrElse(ArticleSource.dataDir)
  }
  override def name(): String = catName
  override def defaultNamespace(): Array[String] = Array(TableNs)

  /** The corpora whose artifacts exist RIGHT NOW — catalog state IS the
    * landed estate.
    */
  private def landed: Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dataDir)
    val fs = ArticlesFs.get(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).sorted
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Array(TableNs)))
      throw new NoSuchNamespaceException(namespace)
    (landed :+ "all").map(Identifier.of(Array(TableNs), _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!(ident.namespace.isEmpty || ident.namespace.sameElements(Array(TableNs))))
      throw new NoSuchTableException(ident)
    val present = landed
    ident.name match {
      case "all" => new ArticlesTable(present.mkString(","), dataDir)
      case c if present.contains(c) => new ArticlesTable(c, dataDir)
      case _ => throw new NoSuchTableException(ident)
    }
  }

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    s"$catName is read-only: corpora are landed by the connector's write " +
      "face and removed by DELETE; there is no DDL surface")
  override def createTable(ident: Identifier, info: TableInfo): Table = readOnly
  override def alterTable(ident: Identifier, changes: TableChange*): Table = readOnly
  override def dropTable(ident: Identifier): Boolean = readOnly
  override def renameTable(old: Identifier, next: Identifier): Unit = readOnly

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Array(FnNs)))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(Array(FnNs), SplitBucket.name()))
  }
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.sameElements(Array(FnNs)) &&
      ident.name == SplitBucket.name()) SplitBucket
    else throw new NoSuchFunctionException(ident)

  /** The GOVERNANCE face: the catalog publishes a masked VIEW of the
    * estate (`<cat>.views.articles_public`, q266) — researcher names and
    * affiliations (the §1 PII columns) never appear; a stable
    * `author_token` pseudonym (md5 prefix of the author list) preserves
    * joinability/distinct-counting without re-identification. The masking
    * lives IN the catalog, not in every consumer's query — the only
    * arrangement that survives an estate with many readers: revoke the
    * table, grant the view.
    */
  override def listViews(namespace: String*): Array[Identifier] = {
    if (namespace != Seq(ViewNs))
      throw new NoSuchNamespaceException(namespace.toArray)
    Array(Identifier.of(Array(ViewNs), PublicView),
      Identifier.of(Array(ViewNs), JournalsView))
  }
  override def loadView(ident: Identifier): View = {
    if (!ident.namespace.sameElements(Array(ViewNs)))
      throw new NoSuchViewException(ident)
    if (ident.name == JournalsView) return journalsView
    if (ident.name != PublicView) throw new NoSuchViewException(ident)
    val cat = catName
    new View {
      override def name(): String = s"$cat.$ViewNs.$PublicView"
      override def query(): String =
        """SELECT journal, indexation, publication, doi, titre,
          |  CASE WHEN chercheurs IS NULL THEN NULL
          |       ELSE substring(md5(chercheurs), 1, 12) END AS author_token,
          |  abstract, keywords, pays, quartile
          |FROM `all`""".stripMargin
      override def currentCatalog(): String = cat
      override def currentNamespace(): Array[String] = Array(TableNs)
      override def schema(): StructType = org.apache.spark.sql.types.StructType(
        Seq("journal", "indexation", "publication", "doi", "titre",
          "author_token", "abstract", "keywords", "pays", "quartile")
          .map(org.apache.spark.sql.types.StructField(_, StringType,
            nullable = true)))
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): JMap[String, String] =
        java.util.Collections.singletonMap(ViewCatalog.PROP_COMMENT,
          "PII-masked public face of the article estate")
    }
  }
  /** A second stored view whose body uses a WITH clause — views are
    * spliced in after the analyzer's Substitution batch, so
    * [[graft.plans.ResolveV2Views]] must run CTESubstitution itself;
    * this view (and its GraftCatalogSpec pin) keeps that path honest.
    */
  private def journalsView: View = {
    val cat = catName
    new View {
      override def name(): String = s"$cat.$ViewNs.$JournalsView"
      override def query(): String =
        """WITH counted AS (
          |  SELECT journal, CAST(COUNT(*) AS BIGINT) AS n_articles
          |  FROM `all` WHERE journal IS NOT NULL GROUP BY journal)
          |SELECT journal, n_articles FROM counted WHERE n_articles >= 2""".stripMargin
      override def currentCatalog(): String = cat
      override def currentNamespace(): Array[String] = Array(TableNs)
      override def schema(): StructType = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("journal", StringType, true),
        org.apache.spark.sql.types.StructField("n_articles",
          org.apache.spark.sql.types.LongType, true)))
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = Array.empty
      override def columnComments(): Array[String] = Array.empty
      override def properties(): JMap[String, String] =
        java.util.Collections.emptyMap()
    }
  }

  override def createView(info: ViewInfo): View = readOnly
  override def alterView(ident: Identifier, changes: ViewChange*): View = readOnly
  override def dropView(ident: Identifier): Boolean = readOnly
  override def renameView(old: Identifier, next: Identifier): Unit = readOnly

  /** The CONTROL-PLANE face: estate mutations as stored procedures
    * (`CALL <cat>.sys.land(corpus => …, src => …)`, q267) — the pattern
    * Iceberg established (`CALL catalog.system.rewrite_data_files`) and
    * Spark 4.1 made official (ProcedureCatalog + the analyzer's
    * ResolveProcedures/BindProcedures). Landing an artifact is ONE
    * filesystem copy through the same Hadoop FS the write face uses, and
    * the procedure returns its receipt (corpus, bytes landed) as a
    * driver-side LocalScan — metadata work stays metadata-priced.
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(Array(ProcNs)))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(Array(ProcNs), "land"))
  }
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace.sameElements(Array(ProcNs)) && ident.name == "land"))
      throw new NoSuchFunctionException(ident)
    new LandProcedure(dataDir)
  }
}

private[sources] object GraftCatalog {
  val TableNs = "articles"
  val FnNs = "fns"
  val ViewNs = "views"
  val PublicView = "articles_public"
  val JournalsView = "recurring_journals"
  val ProcNs = "sys"
}

/** `CALL <cat>.sys.land(corpus, src)` — land one corpus artifact
  * (`$src/$corpus.json` → the estate) and return the receipt
  * (corpus, n_bytes). Side-effecting, so `isDeterministic = false`;
  * binding accepts named or positional arguments (GraftCatalogSpec).
  */
private[sources] class LandProcedure(dataDir: String)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "land"
  override def description(): String =
    "land(corpus STRING, src STRING): copy $src/$corpus.json into the estate"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("corpus", StringType).build(),
    ProcedureParameter.in("src", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import org.apache.hadoop.fs.Path
    val corpus = input.getUTF8String(0).toString
    // the corpus name is spliced into an estate path: reject anything
    // that could escape it (CALL arguments are user input)
    require(corpus.matches("[A-Za-z0-9_-]+"),
      s"corpus must be a bare artifact name, got '$corpus'")
    val src = new Path(input.getUTF8String(1).toString, s"$corpus.json")
    val dst = new Path(dataDir, s"$corpus.json")
    val fs = ArticlesFs.get(dst)
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(
      ArticlesFs.get(src), src, fs, dst, false, true,
      SparkSession.active.sparkContext.hadoopConfiguration)
    val landedBytes = fs.getFileStatus(dst).getLen
    val receipt = new LocalScan {
      override def readSchema(): StructType = StructType(Seq(
        org.apache.spark.sql.types.StructField("corpus", StringType, false),
        org.apache.spark.sql.types.StructField("n_bytes",
          org.apache.spark.sql.types.LongType, false)))
      override def rows(): Array[InternalRow] = Array(
        InternalRow(UTF8String.fromString(corpus), landedBytes))
    }
    java.util.Collections.singletonList[Scan](receipt).iterator()
  }
}

/** `split_bucket(key STRING, n INT) → INT`: the engine's ONE seed-free
  * splitter — `conv(substring(md5(key), 1, 7), 16, 10) % n`, the exact
  * q69/q238 spelling — as a catalog-shipped V2 scalar function. It reads
  * the hex prefix off the digest bytes with [[Digest]]'s JVM form, so
  * SQL-front-door users, the Scala API and the DuckDB oracle replay all
  * agree on every split ever taken.
  */
object SplitBucket extends UnboundFunction {
  override def name(): String = "split_bucket"
  override def description(): String =
    "split_bucket(key STRING, n INT) -> INT: " +
      "conv(substring(md5(key),1,7),16,10) % n — the engine's seed-free splitter"
  override def bind(inputType: StructType): BoundFunction = {
    val ok = inputType.fields.length == 2 &&
      inputType.fields(0).dataType == StringType &&
      inputType.fields(1).dataType == IntegerType
    if (!ok) throw new UnsupportedOperationException(
      s"expected (STRING, INT), got ${inputType.simpleString}")
    BoundSplitBucket
  }
}

object BoundSplitBucket extends ScalarFunction[Int] {
  override def inputTypes(): Array[DataType] = Array(StringType, IntegerType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "split_bucket"
  override def canonicalName(): String = "graft.fns.split_bucket"
  override def isDeterministic: Boolean = true
  override def isResultNullable: Boolean = false

  /** Magic method: Spark plans this as a codegen'd `Invoke` on unboxed
    * args — no row boxing, no UDF.
    */
  def invoke(key: UTF8String, n: Int): Int = {
    require(n > 0, s"split_bucket: n must be positive, got $n")
    val h = Digest.instance.digest(key.getBytes)
    (Digest.nibbles(h, 0, 7) % n).toInt
  }
  /** Interpreted fallback for engines that skip the magic-method path. */
  override def produceResult(row: InternalRow): Int =
    invoke(row.getUTF8String(0), row.getInt(1))
}

/** q263/q264 — the catalog face as driver-verifiable queries. */
object CatalogOps extends QueryModule {

  private val referenceCorpora = Seq("ai_articles", "blockchain_articles",
    "acm_machine_learning_articles", "acm_blockchain_articles")

  /** Shared scaffolding for the estate-MUTATING queries (q264/q267/q269):
    * one staging dir per (app, sfDir), registered on the query's session,
    * with a stage-once gate so re-runs skip the mutation and re-audit the
    * mutated estate. Returns the catalog name to query.
    */
  private def stagedCatalog(s: SparkSession, dir: String, prefix: String)
      (mutate: (String, String) => Unit): String = {
    val stage = graft.StagingDirs.dir(s, prefix, dir)
    val cat = s"graft_$prefix"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.dataDir", stage)
    graft.StagingDirs.once(stage) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
      mutate(cat, stage)
    }
    cat
  }

  /** Copy the reference estate into a writable staging dir. */
  private def copyEstate(stage: String): Unit =
    referenceCorpora.foreach { c =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(ArticleSource.dataDir, s"$c.json"),
        java.nio.file.Paths.get(stage, s"$c.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** q263: SQL-only split audit through the catalog — table AND function
    * both resolved by identifier (`graft.articles.all`,
    * `graft.fns.split_bucket`), zero temp views, zero Scala in the query:
    * per-bucket article counts over the 8-way split of the canonical
    * article key. The oracle replays the md5 hex-prefix parse digit by
    * digit ([[graft.Exact.sqlHexToLong]]), so the catalog function's
    * digest arithmetic is hash-verified against an independent spelling.
    *
    * Scale: the split is map-side (one digest per row, codegen'd Invoke);
    * the audit aggregate is O(n) rows into O(buckets) groups.
    */
  private def q263(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.sql(
      """SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_articles,
        |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
        |  MIN(titre) AS first_title
        |FROM (
        |  SELECT graft.fns.split_bucket(coalesce(doi, titre, ''), 8) AS bucket,
        |         doi, titre
        |  FROM graft.articles.all)
        |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  private val q263Sql = {
    val one = (c: String) =>
      s"""SELECT NULLIF(doi,'') AS doi, NULLIF(titre,'') AS titre
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    val hex7 = graft.Exact.sqlHexToLong("md5(coalesce(doi, titre, ''))", 1, 7)
    s"""WITH u AS (
       |${Seq("ai_articles", "blockchain_articles",
              "acm_machine_learning_articles", "acm_blockchain_articles")
         .map(one).mkString("\nUNION ALL BY NAME\n")})
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
       |  MIN(titre) AS first_title
       |FROM (SELECT CAST(($hex7) % 8 AS INTEGER) AS bucket, doi, titre FROM u)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** q264: METADATA-ONLY DELETE at file granularity
    * ([[ArticlesTable.deleteWhere]]) — the partition-aligned
    * retention/GDPR sweep: `DELETE FROM <cat>.articles.all WHERE
    * indexation = 'ACM'` drops the two ACM corpora by deleting their
    * artifacts (zero bytes read, zero rows rewritten), and the next read
    * through the catalog sees only the surviving estate because the
    * catalog lists the filesystem at resolution time. Runs against a
    * STAGED COPY of the landed estate (the reference dir is read-only
    * upstream truth); the stage-once marker makes re-runs within a session
    * idempotent — they re-audit the already-deleted estate.
    *
    * Scale: the delete is O(#matching files) driver-side FS calls — the
    * reason file-aligned deletes are free at 100 TB while sub-file ones
    * cost a copy-on-write rewrite (q256). Sub-file predicates are
    * REJECTED (`canDeleteWhere`), pinned by GraftCatalogSpec.
    */
  private def q264(s: SparkSession, dir: String): DataFrame = {
    val cat = stagedCatalog(s, dir, "del") { (cat, stage) =>
      copyEstate(stage)
      s.sql(s"DELETE FROM $cat.articles.all WHERE indexation = 'ACM'")
    }
    s.sql(
      s"""SELECT indexation, CAST(COUNT(*) AS BIGINT) AS n_articles,
         |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
         |  CAST(COUNT(DISTINCT _corpus) AS BIGINT) AS n_corpora
         |FROM $cat.articles.all
         |GROUP BY indexation ORDER BY indexation""".stripMargin)
  }

  private val q264Sql = {
    val one = (c: String) =>
      s"""SELECT '$c' AS corpus, NULLIF(doi,'') AS doi,
         |  NULLIF(indexation,'') AS indexation
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    s"""WITH u AS (
       |${Seq("ai_articles", "blockchain_articles")
         .map(one).mkString("\nUNION ALL BY NAME\n")})
       |SELECT indexation, CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
       |  CAST(COUNT(DISTINCT corpus) AS BIGINT) AS n_corpora
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q266: the GOVERNED VIEW — consumers query
    * `graft.views.articles_public` ([[GraftCatalog.loadView]]), where the
    * PII columns (researcher names, affiliations) do not exist and a
    * stable md5-prefix pseudonym keeps author-list distinct-counting
    * alive: per-quartile article counts, distinct author lists, DOI
    * coverage. Selecting `chercheurs` from the view is an ANALYSIS error
    * (GraftCatalogSpec) — masking enforced at resolution, not by
    * consumer discipline. The oracle replays the view text over the raw
    * artifacts.
    *
    * Scale: a V2 view is pure plan substitution — the masked projection
    * fuses into the same pushdown-complete scan as the table read; zero
    * materialization, zero copies of the estate.
    */
  private def q266(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.sql(
      """SELECT indexation, coalesce(quartile, 'none') AS quartile,
        |  CAST(COUNT(*) AS BIGINT) AS n_articles,
        |  CAST(COUNT(DISTINCT author_token) AS BIGINT) AS n_author_lists,
        |  MIN(author_token) AS first_author_token,
        |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi
        |FROM graft.views.articles_public
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  private val q266Sql = {
    val ieee = (c: String) =>
      s"""SELECT NULLIF(doi,'') AS doi, NULLIF(chercheurs,'') AS chercheurs,
         |  NULLIF(indexation,'') AS indexation, NULLIF(quartile,'') AS quartile
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    val acm = (c: String) =>
      s"""SELECT NULLIF(doi,'') AS doi, NULLIF(chercheurs,'') AS chercheurs,
         |  NULLIF(indexation,'') AS indexation, CAST(NULL AS VARCHAR) AS quartile
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    s"""WITH u AS (
       |${Seq(ieee("ai_articles"), ieee("blockchain_articles"),
              acm("acm_machine_learning_articles"),
              acm("acm_blockchain_articles")).mkString("\nUNION ALL BY NAME\n")}),
       |v AS (SELECT indexation, quartile, doi,
       |  CASE WHEN chercheurs IS NULL THEN NULL
       |       ELSE substring(md5(chercheurs), 1, 12) END AS author_token
       |FROM u)
       |SELECT indexation, coalesce(quartile, 'none') AS quartile,
       |  CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(DISTINCT author_token) AS BIGINT) AS n_author_lists,
       |  MIN(author_token) AS first_author_token,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi
       |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q267: STORED-PROCEDURE ingestion — the estate is (re)built from an
    * empty directory by `CALL <cat>.sys.land(corpus => …, src => …)` per
    * corpus ([[LandProcedure]]), the reference's scrape→save orchestration
    * (`main.py:208-227`) as catalog control-plane; the audit then reads
    * the landed estate through the same catalog and must reproduce the
    * upstream exactly (the oracle reads the ORIGINAL artifacts — landing
    * is provably lossless). Re-runs are stage-once gated: they re-audit the
    * already-landed estate.
    *
    * Scale: each landing is one Hadoop-FS copy + an O(1) receipt row
    * (LocalScan); nothing row-level happens until a consumer reads.
    */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val cat = stagedCatalog(s, dir, "land") { (cat, _) =>
      referenceCorpora.foreach { c =>
        s.sql(s"CALL $cat.sys.land(corpus => '$c', " +
          s"src => '${ArticleSource.dataDir}')").collect()
      }
    }
    s.sql(
      s"""SELECT _corpus AS corpus, indexation,
         |  CAST(COUNT(*) AS BIGINT) AS n_articles,
         |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi
         |FROM $cat.articles.all
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  private val q267Sql = {
    val one = (c: String) =>
      s"""SELECT '$c' AS corpus, NULLIF(doi,'') AS doi,
         |  NULLIF(indexation,'') AS indexation
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    s"""WITH u AS (
       |${Seq("ai_articles", "blockchain_articles",
              "acm_machine_learning_articles", "acm_blockchain_articles")
         .map(one).mkString("\nUNION ALL BY NAME\n")})
       |SELECT corpus, indexation, CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi
       |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q269: SQL `MERGE INTO` on the connector — the last DSv2 face
    * ([[ArticlesRowLevelOperation]], delta mode): a DOI-registry backfill
    * updates every titled row missing its DOI to a deterministic
    * generated identifier AND inserts one synthetic registry record
    * (`WHEN NOT MATCHED`), copy-on-write at artifact granularity. The
    * audit reads the merged estate back through the catalog; the oracle
    * REPLAYS the merge relationally over the original artifacts
    * (matched-title set → conditional rewrite + the inserted row), so
    * update semantics — including the multi-match case where a titled
    * row WITH a DOI shares its title with a DOI-less row and is
    * overwritten too — are hash-verified.
    *
    * Scale: only CHANGED rows shuffle (delta, clustered per artifact);
    * the rewrite touches affected artifacts only. Stage-once gated like
    * q264: re-runs re-audit the merged estate.
    */
  private def q269(s: SparkSession, dir: String): DataFrame = {
    val cat = stagedCatalog(s, dir, "mrg") { (cat, stage) =>
      copyEstate(stage)
      s.sql(
        s"""MERGE INTO $cat.articles.all t
           |USING (
           |  SELECT DISTINCT titre AS s_titre,
           |    concat('generated:', substring(md5(titre), 1, 10)) AS s_doi
           |  FROM $cat.articles.all WHERE doi IS NULL AND titre IS NOT NULL
           |  UNION ALL
           |  SELECT 'A Synthetic Backfill Record', 'generated:synthetic1'
           |) s
           |ON t.titre = s.s_titre
           |WHEN MATCHED THEN UPDATE SET doi = s.s_doi
           |WHEN NOT MATCHED THEN INSERT (titre, doi, indexation)
           |  VALUES (s.s_titre, s.s_doi, 'SYNTH')""".stripMargin)
    }
    s.sql(
      s"""SELECT _corpus AS corpus, CAST(COUNT(*) AS BIGINT) AS n_articles,
         |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
         |  CAST(COUNT(CASE WHEN doi LIKE 'generated:%' THEN 1 END) AS BIGINT)
         |    AS n_generated,
         |  MIN(doi) AS first_doi
         |FROM $cat.articles.all
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private val q269Sql = {
    val one = (c: String) =>
      s"""SELECT '$c' AS corpus, NULLIF(doi,'') AS doi, NULLIF(titre,'') AS titre
         |FROM read_json_auto('${ArticleSource.dataDir}/$c.json')""".stripMargin
    s"""WITH u AS (
       |${Seq("ai_articles", "blockchain_articles",
              "acm_machine_learning_articles", "acm_blockchain_articles")
         .map(one).mkString("\nUNION ALL BY NAME\n")}),
       |backfill AS (SELECT DISTINCT titre FROM u
       |             WHERE doi IS NULL AND titre IS NOT NULL),
       |m AS (
       |  SELECT corpus,
       |    CASE WHEN titre IS NOT NULL AND titre IN (SELECT titre FROM backfill)
       |         THEN 'generated:' || substring(md5(titre), 1, 10)
       |         ELSE doi END AS doi
       |  FROM u
       |  UNION ALL
       |  SELECT 'merged_inserts', 'generated:synthetic1')
       |SELECT corpus, CAST(COUNT(*) AS BIGINT) AS n_articles,
       |  CAST(COUNT(doi) AS BIGINT) AS n_with_doi,
       |  CAST(COUNT(CASE WHEN doi LIKE 'generated:%' THEN 1 END) AS BIGINT)
       |    AS n_generated,
       |  MIN(doi) AS first_doi
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q263_catalog_function" -> q263, "q264_catalog_delete" -> q264,
      "q266_governed_view" -> q266, "q267_procedure_land" -> q267,
      "q269_merge_into" -> q269)
  override def oracles: Map[String, String] =
    Map("q263_catalog_function" -> q263Sql, "q264_catalog_delete" -> q264Sql,
      "q266_governed_view" -> q266Sql, "q267_procedure_land" -> q267Sql,
      "q269_merge_into" -> q269Sql)
}
