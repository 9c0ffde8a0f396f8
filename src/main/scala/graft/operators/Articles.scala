package graft.operators

import graft.QueryModule
import graft.sources.ArticleSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's own data model, end-to-end on its landed corpora —
  * ingest → normalize → enrich → analyze (SURVEY.md §1, §2.1, §3.3).
  *
  * These queries read the golden fixtures at `/root/reference/data` (the
  * corpus is scale-independent; the sfDir argument is unused). They
  * implement the two enrichments the reference left as stubs — journal →
  * quartile (`main.py:182-185`) and text → country (`main.py:173-180`) — as
  * broadcast-dimension lookups, the shape that stays shuffle-free when the
  * article corpus is 100 TB and the dimension is a few hundred rows.
  */
object Articles extends QueryModule {

  /** q60: 4-corpus union (11-col IEEE ∪ 9-col ACM by name) with per-source
    * fill-rate profile — the reference's implied analytical entry (§3.3).
    */
  private def q60(s: SparkSession, d: String): DataFrame =
    ArticleSource.unionAll(s)
      .groupBy(col("indexation"))
      .agg(
        count(lit(1)).as("n"),
        count(col("doi")).as("n_doi"),
        count(col("titre")).as("n_titre"),
        count(col("abstract")).as("n_abstract"),
        count(col("chercheurs")).as("n_authors"),
        count(col("journal")).as("n_journal"),
        count(col("pays")).as("n_pays")
      )
      .orderBy(col("indexation"))

  private val q60Sql =
    s"""SELECT indexation, COUNT(*) AS n, COUNT(doi) AS n_doi,
       |  COUNT(titre) AS n_titre, COUNT(abstract) AS n_abstract,
       |  COUNT(chercheurs) AS n_authors, COUNT(journal) AS n_journal,
       |  COUNT(pays) AS n_pays
       |FROM (${ArticleSource.unionAllSql})
       |GROUP BY indexation ORDER BY indexation""".stripMargin

  /** q61: top authors by article count — the flagship split/explode shape
    * (SURVEY.md §7.2 step 1) over the packed `"; "` author lists (§1.2).
    */
  private def q61(s: SparkSession, d: String): DataFrame =
    ArticleSource.unionAll(s)
      .select(explode(split(col("chercheurs"), "; ")).as("author"))
      .filter(col("author").isNotNull && col("author") =!= "")
      .groupBy(col("author"))
      .agg(count(lit(1)).as("n_articles"))
      .orderBy(desc("n_articles"), col("author"))
      .limit(10)

  private val q61Sql =
    s"""SELECT author, COUNT(*) AS n_articles FROM (
       |  SELECT unnest(string_split(chercheurs, '; ')) AS author
       |  FROM (${ArticleSource.unionAllSql})
       |  WHERE chercheurs IS NOT NULL
       |) WHERE author IS NOT NULL AND author <> ''
       |GROUP BY author ORDER BY n_articles DESC, author LIMIT 10""".stripMargin

  /** q62: DOI normalization (SURVEY.md §2.8 F7): strip the two observed
    * prefixes (`"DOI: 10.1109/..."` vs `"https://doi.org/10.1145/..."`)
    * to a bare DOI, then profile by registrant prefix.
    */
  private def q62(s: SparkSession, d: String): DataFrame =
    ArticleSource.unionAll(s)
      .filter(col("doi").isNotNull)
      .select(
        regexp_replace(col("doi"), "^(DOI: |https://doi\\.org/)", "").as("bare_doi"),
        col("indexation")
      )
      .select(
        col("indexation"),
        regexp_extract(col("bare_doi"), "^(10\\.[0-9]+)", 1).as("registrant"),
        col("bare_doi")
      )
      .groupBy(col("indexation"), col("registrant"))
      .agg(count(lit(1)).as("n"), countDistinct(col("bare_doi")).as("n_distinct"))
      .orderBy(col("indexation"), col("registrant"))

  private val q62Sql =
    s"""SELECT indexation,
       |  regexp_extract(regexp_replace(doi, '^(DOI: |https://doi\\.org/)', ''), '^(10\\.[0-9]+)', 1) AS registrant,
       |  COUNT(*) AS n,
       |  COUNT(DISTINCT regexp_replace(doi, '^(DOI: |https://doi\\.org/)', '')) AS n_distinct
       |FROM (${ArticleSource.unionAllSql})
       |WHERE doi IS NOT NULL
       |GROUP BY indexation, registrant
       |ORDER BY indexation, registrant""".stripMargin

  /** q63: journal → quartile enrichment — the reference's `_get_quartile`
    * stub (`main.py:182-185`) realized as a broadcast dimension join keyed
    * on the conference acronym extracted from the ACM journal string.
    */
  private def q63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Seq(
      ("KDD", "Q1"), ("ICSE", "Q1"), ("CHI", "Q1"),
      ("ICMLT", "Q2"), ("ICDCN", "Q2"), ("TEI", "Q2"),
      ("ACM REP", "Q3")
    ).toDF("acro", "quartile_rank")
    ArticleSource.unionAll(s)
      .filter(col("journal").isNotNull)
      .withColumn("acro", regexp_extract(col("journal"), "^(.*?) '[0-9]+:", 1))
      .join(broadcast(dim), Seq("acro"), "left")
      .groupBy(coalesce(col("quartile_rank"), lit("(unranked)")).as("quartile_rank"))
      .agg(count(lit(1)).as("n_articles"), countDistinct(col("acro")).as("n_venues"))
      .orderBy(col("quartile_rank"))
  }

  private val q63Sql =
    s"""SELECT COALESCE(q.quartile_rank, '(unranked)') AS quartile_rank,
       |  COUNT(*) AS n_articles, COUNT(DISTINCT a.acro) AS n_venues
       |FROM (
       |  SELECT regexp_extract(journal, '^(.*?) ''[0-9]+:', 1) AS acro
       |  FROM (${ArticleSource.unionAllSql}) WHERE journal IS NOT NULL
       |) a
       |LEFT JOIN (VALUES ('KDD','Q1'),('ICSE','Q1'),('CHI','Q1'),
       |                  ('ICMLT','Q2'),('ICDCN','Q2'),('TEI','Q2'),
       |                  ('ACM REP','Q3')) q(acro, quartile_rank)
       |  ON a.acro = q.acro
       |GROUP BY 1 ORDER BY quartile_rank""".stripMargin

  /** q64: text → country enrichment — the reference's `_extract_country`
    * stub (`main.py:173-180`) realized as a first-match substring scan of
    * the abstract against a country list (the stub's own suggested
    * approach), with the affiliation field as the preferred source when
    * present.
    */
  private def q64(s: SparkSession, d: String): DataFrame = {
    val countries = Seq("China", "India", "United States", "Germany",
      "France", "Japan", "Australia", "Canada")
    val hit = (src: org.apache.spark.sql.Column) =>
      countries.foldLeft(lit(null).cast(StringType)) { (acc, c) =>
        coalesce(acc, when(src.contains(c), lit(c)))
      }
    ArticleSource.unionAll(s)
      .withColumn("pays_extracted",
        coalesce(hit(col("laboratoires")), hit(col("abstract")), lit("(unknown)")))
      .groupBy(col("pays_extracted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pays_extracted"))
  }

  private val q64Sql = {
    val countries = Seq("China", "India", "United States", "Germany",
      "France", "Japan", "Australia", "Canada")
    def chain(src: String) = "COALESCE(" + countries.map(c =>
      s"CASE WHEN $src LIKE '%$c%' THEN '$c' END").mkString(", ") + ")"
    s"""SELECT COALESCE(${chain("laboratoires")}, ${chain("abstract")}, '(unknown)') AS pays_extracted,
       |  COUNT(*) AS n
       |FROM (${ArticleSource.unionAllSql})
       |GROUP BY 1 ORDER BY pays_extracted""".stripMargin
  }

  /** q65: CSV-side ingestion of the same corpora (S7/S9): the pandas
    * RFC-4180 dialect with embedded newlines, and the `''`→NULL round-trip
    * the reference's own CSV sink performs (SURVEY.md §1.3).
    */
  private def q65(s: SparkSession, d: String): DataFrame = {
    val parts = Seq("ai_articles", "blockchain_articles",
      "acm_machine_learning_articles", "acm_blockchain_articles")
      .map { n =>
        ArticleSource.csv(s, n).select(lit(n).as("corpus"),
          col("doi"), col("titre"), col("abstract"))
      }
    parts.reduce(_.unionByName(_))
      .groupBy(col("corpus"))
      .agg(
        count(lit(1)).as("n"),
        count(col("doi")).as("n_doi"),
        count(col("titre")).as("n_titre"),
        count(col("abstract")).as("n_abstract")
      )
      .orderBy(col("corpus"))
  }

  private val q65Sql = {
    val parts = Seq("ai_articles", "blockchain_articles",
      "acm_machine_learning_articles", "acm_blockchain_articles")
    parts.map { n =>
      s"""SELECT '$n' AS corpus, COUNT(*) AS n, COUNT(NULLIF(doi,'')) AS n_doi,
         |  COUNT(NULLIF(titre,'')) AS n_titre, COUNT(NULLIF(abstract,'')) AS n_abstract
         |FROM read_csv_auto('${ArticleSource.dataDir}/$n.csv', header=true, all_varchar=true)"""
        .stripMargin
    }.mkString("", "\nUNION ALL BY NAME\n", "\nORDER BY corpus")
  }

  /** q103: co-author collaboration graph over the reference's own landed
    * corpora — per-article author pairs generated as a PURE per-row
    * fan-out (nested array transforms; no self-join, no article key
    * needed), then one partial-agg shuffle of O(distinct pairs). The
    * citation-network analysis the scraped corpus exists to feed; at
    * 100 TB the per-row expansion is O(k²) in authors-per-paper (small
    * constant) and the only shuffle carries pair strings.
    */
  private def q103(s: SparkSession, d: String): DataFrame =
    ArticleSource.unionAll(s)
      .filter(col("chercheurs").isNotNull)
      .select(expr(
        "array_distinct(filter(split(chercheurs, '; '), x -> x != ''))").as("l"))
      .select(explode(expr(
        "flatten(transform(l, x -> transform(filter(l, y -> y > x), y -> concat(x, ' & ', y))))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_papers"))
      .orderBy(desc("n_papers"), col("pair"))
      .limit(15)

  private val q103Sql =
    s"""SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_papers FROM (
       |  SELECT unnest(flatten(list_transform(l,
       |    x -> list_transform(list_filter(l, y -> y > x), y -> x || ' & ' || y)))) AS pair
       |  FROM (
       |    SELECT list_distinct(list_filter(string_split(chercheurs, '; '), x -> x <> '')) AS l
       |    FROM (${ArticleSource.unionAllSql})
       |    WHERE chercheurs IS NOT NULL))
       |GROUP BY pair ORDER BY n_papers DESC, pair LIMIT 15""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_coauthor_graph" -> q103,
    "q60_articles_union" -> q60,
    "q61_top_authors" -> q61,
    "q62_doi_normalize" -> q62,
    "q63_quartile_join" -> q63,
    "q64_country_extract" -> q64,
    "q65_csv_ingest" -> q65
  )

  override def oracles: Map[String, String] = Map(
    "q103_coauthor_graph" -> q103Sql,
    "q60_articles_union" -> q60Sql,
    "q61_top_authors" -> q61Sql,
    "q62_doi_normalize" -> q62Sql,
    "q63_quartile_join" -> q63Sql,
    "q64_country_extract" -> q64Sql,
    "q65_csv_ingest" -> q65Sql
  )
}
