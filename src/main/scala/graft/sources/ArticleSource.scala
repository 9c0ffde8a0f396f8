package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion of the reference's landed article corpora (the JSON and CSV
  * files under `/root/reference/data`), reproducing its data semantics
  * (SURVEY.md §1):
  *
  *   - JSON sinks are single pretty-printed ARRAYS (`main.py:197-198`), not
  *     JSONL — read with `multiLine=true` (§7.3 foot-gun #1).
  *   - CSV sinks are pandas RFC-4180: quoted fields with doubled internal
  *     quotes and embedded newlines in abstracts — Spark needs
  *     `escape="` + `multiLine=true` to parse them (its default escape is
  *     backslash).
  *   - Missing data is the empty string `''` (`main.py:170-171`), normalized
  *     here to NULL at ingestion (§7.3 rule) so downstream coalesce/count
  *     semantics match what the reference's own CSV round trip produces.
  *   - IEEE rows carry 11 columns, ACM rows 9 (`main.py:94-107`,
  *     `mainn.py:67-83`); the union aligns by NAME with NULL fill.
  *
  * The canonical schema is explicit (no inference for correctness-bearing
  * reads): 11 nullable strings.
  */
object ArticleSource {

  val dataDir = "/root/reference/data"

  /** The 11-column canonical article schema (`main.py:94-107`). */
  val schema: StructType = StructType(
    Seq("journal", "indexation", "publication", "doi", "titre", "chercheurs",
      "laboratoires", "abstract", "keywords", "pays", "quartile")
      .map(StructField(_, StringType, nullable = true)))

  /** `''` → NULL on every string column (SURVEY.md §1.2 sentinel rule). */
  def normalize(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.dataType == StringType =>
        d.withColumn(f.name, nullif(col(f.name), lit("")))
      case (d, _) => d
    }

  /** One corpus from its JSON-array file, normalized. */
  def json(spark: SparkSession, name: String): DataFrame =
    normalize(spark.read.option("multiLine", true).json(s"$dataDir/$name.json"))

  /** One corpus from its CSV file (pandas RFC-4180 dialect), normalized.
    * CSV empty cells already arrive as NULL; normalize is idempotent.
    */
  def csv(spark: SparkSession, name: String): DataFrame =
    normalize(
      spark.read
        .option("header", true)
        .option("multiLine", true)
        .option("escape", "\"")
        .csv(s"$dataDir/$name.csv"))

  /** All four corpora (IEEE 11-col ∪ ACM 9-col) aligned by name — the union
    * the reference never materializes (SURVEY.md §2.7).
    */
  def unionAll(spark: SparkSession): DataFrame = {
    val parts = Seq("ai_articles", "blockchain_articles",
      "acm_machine_learning_articles", "acm_blockchain_articles")
      .map(json(spark, _))
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** DuckDB-side spelling of [[unionAll]] for oracle SQL strings. */
  val unionAllSql: String =
    s"""SELECT * FROM (
      |  SELECT NULLIF(journal,'') AS journal, NULLIF(indexation,'') AS indexation,
      |         NULLIF(publication,'') AS publication, NULLIF(doi,'') AS doi,
      |         NULLIF(titre,'') AS titre, NULLIF(chercheurs,'') AS chercheurs,
      |         NULLIF(laboratoires,'') AS laboratoires, NULLIF(abstract,'') AS abstract,
      |         NULLIF(keywords,'') AS keywords, NULLIF(pays,'') AS pays,
      |         NULLIF(quartile,'') AS quartile
      |  FROM read_json_auto(['$dataDir/ai_articles.json',
      |                       '$dataDir/blockchain_articles.json'])
      |  UNION ALL BY NAME
      |  SELECT NULLIF(journal,'') AS journal, NULLIF(indexation,'') AS indexation,
      |         NULLIF(publication,'') AS publication, NULLIF(doi,'') AS doi,
      |         NULLIF(titre,'') AS titre, NULLIF(chercheurs,'') AS chercheurs,
      |         NULLIF(laboratoires,'') AS laboratoires, NULLIF(abstract,'') AS abstract,
      |         NULLIF(keywords,'') AS keywords
      |  FROM read_json_auto(['$dataDir/acm_machine_learning_articles.json',
      |                       '$dataDir/acm_blockchain_articles.json'])
      |)""".stripMargin
}
