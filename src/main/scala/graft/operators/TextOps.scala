package graft.operators

import graft.{Exact, QueryModule, Tables}
import graft.functions.Digest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication surface over the `documents` table — the
  * training-data-pipeline operators (north star in BASELINE.json; SURVEY.md
  * §2.8 F9, §7.2 step 5).
  *
  * Hashing policy: every hash here is md5 (identical bytes in Spark and
  * DuckDB), so even MinHash/SimHash/fingerprint sketches are replayable by
  * the SQL oracle — the whole dedup family is hash-compare-verified, not
  * just rows-counted. A production deployment would swap md5 for xxhash64
  * (same plan shape, ~5× cheaper per token); the choice is a constant
  * factor on an embarrassingly parallel map stage.
  *
  * Scale shapes:
  *   - token/quality/langid/fingerprint queries are per-row projections —
  *     no shuffle except the deterministic ORDER BY for the oracle.
  *   - exact dedup is a hash aggregation on the fingerprint: O(docs)
  *     shuffle of fingerprint-sized rows, never full text.
  *   - n-gram Jaccard and LSH candidate generation are inverted-index
  *     self-joins: shuffle on shingle/band-key, never an all-pairs cross
  *     join. Hot shingles at 100 TB get AQE skew splitting; a document-
  *     frequency cap on shingles (drop shingles in >X% of docs) bounds the
  *     worst key before it matters.
  */
object TextOps extends QueryModule {

  private def toks(c: Column): Column = split(c, " ")

  /** Distinct word-3-gram shingle set; empty below 3 tokens. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
      )).as("shingles"))

  private val shingledSql =
    """SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 3""".stripMargin

  /** q70: token counting — whitespace split plus a BPE-ish regex lexer
    * (word / number / other-symbol classes), cross-checked against the
    * stored n_chars.
    */
  private def q70(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast(LongType).as("lex_tokens"),
        length(col("text")).cast(LongType).as("len_chars"),
        (length(col("text")) === col("n_chars")).as("len_consistent")
      )
      .orderBy(col("doc_id"))

  private val q70Sql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS lex_tokens,
      |  CAST(length(text) AS BIGINT) AS len_chars,
      |  length(text) = n_chars AS len_consistent
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q71: quality scoring — length, stopword ratio, uniqueness ratio,
    * composite score. Pure double arithmetic from exact integers, same
    * operation order both engines.
    */
  /** Per-doc quality frame — q71's exact arithmetic, shared with q301's
    * threshold sweep so both engines' doubles stay bit-identical.
    */
  private def qualityFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        (size(filter(col("t"), t => t.isin("the", "a"))).cast(DoubleType)
          / size(col("t"))).as("stop_ratio"),
        (size(array_distinct(col("t"))).cast(DoubleType) / size(col("t"))).as("uniq_ratio")
      )
      .withColumn("quality",
        col("uniq_ratio") * 0.5
          + (lit(1.0) - col("stop_ratio")) * 0.3
          + least(col("n_tokens").cast(DoubleType) / 256.0, lit(1.0)) * 0.2)

  private def q71(s: SparkSession, d: String): DataFrame =
    qualityFrame(s, d).orderBy(col("doc_id"))

  // --------------------------------------------------------------- q312

  /** q312: QUALITY-ARBITRATED SURVIVORSHIP — dedup that keeps the BEST
    * duplicate, not the first: within each prefix-fingerprint group the
    * survivor is the highest-quality member (q71's exact score,
    * deterministic doc_id tiebreak), and the per-source report counts
    * kept, dropped, and RESCUED docs — survivors that the naive min-doc
    * rule (q303/q73) would have discarded in favor of a worse copy. The
    * rescue count is the measurable value of arbitration: curation teams
    * use exactly this number to justify the extra quality pass.
    *
    * Scale: same one fingerprint-keyed shuffle as q303 — the quality
    * score rides the row into the window; no second pass, text never
    * shuffles (the md5 does).
    */
  private def q312(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val fp = Tables.documents(s, d).select(col("doc_id"), col("source"),
      md5(substring(col("text"), 1, 100)).as("fp"))
    qualityFrame(s, d).join(fp, "doc_id")
      .withColumn("rk", row_number().over(
        w.orderBy(desc("quality"), col("doc_id"))))
      .withColumn("min_doc", min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(
        count(when(col("rk") === 1, 1)).as("n_kept"),
        count(when(col("rk") > 1, 1)).as("n_dropped"),
        count(when(col("rk") === 1 && col("doc_id") =!= col("min_doc"), 1))
          .as("n_rescued"))
      .orderBy(col("source"))
  }

  private val q312Sql =
    """WITH q AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio,
      |    source, md5(substr(text, 1, 100)) AS fp
      |  FROM (SELECT doc_id, text, source, string_split(text, ' ') AS t FROM documents)),
      |g AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY
      |      uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |        + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 DESC,
      |      doc_id) AS rk,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS min_doc
      |  FROM q)
      |SELECT source,
      |  CAST(COUNT(CASE WHEN rk = 1 THEN 1 END) AS BIGINT) AS n_kept,
      |  CAST(COUNT(CASE WHEN rk > 1 THEN 1 END) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(CASE WHEN rk = 1 AND doc_id <> min_doc THEN 1 END) AS BIGINT) AS n_rescued
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q310

  /** q310: CURATION FUNNEL — the whole pre-training curation pipeline as
    * ONE declarative plan with per-stage accounting: raw corpus → exact
    * dedup (md5(text), min-doc survivorship) → quality gate (q71's exact
    * score arithmetic, bar 0.4) → decontamination (drop the eval slice
    * `doc_id % 101 = 0` AND any train doc sharing its 100-char-prefix
    * fingerprint with an eval doc). The funnel report (docs + tokens
    * surviving each stage) is what a data-governance review signs off
    * on; because the stages compose in one plan, Catalyst pipelines the
    * projections and each barrier is just the aggregation it needs.
    *
    * Scale: text never shuffles — the dedup window keys on the 32-hex
    * md5, the decontamination set is O(eval) fingerprints broadcast into
    * a map-side anti join, and the four stage aggregates are partial
    * (O(1) rows each). The same funnel at 100 TB is one fingerprint
    * shuffle plus map-side everything else.
    */
  private def q310(s: SparkSession, d: String): DataFrame = {
    // ONE corpus pass: per-row survival flags for every stage, folded by
    // a single conditional aggregate — the dedup window's fingerprint
    // exchange happens exactly once (PlanSpec pins it); a union of
    // per-stage subplans would re-shuffle the corpus per stage.
    val fp = Tables.documents(s, d).select(col("doc_id"),
      md5(col("text")).as("fp_text"),
      md5(substring(col("text"), 1, 100)).as("fp_pre"))
    val evalFps = fp.filter(col("doc_id") % 101 === 0)
      .select(col("fp_pre").as("efp")).distinct()
    val flags = qualityFrame(s, d).join(fp, "doc_id")
      .withColumn("keep1", col("doc_id") === min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp_text"))))
      .withColumn("keep2", col("keep1") && col("quality") >= 0.4)
      .join(broadcast(evalFps), col("fp_pre") === col("efp"), "left")
      .withColumn("keep3",
        col("keep2") && col("doc_id") % 101 =!= 0 && col("efp").isNull)
    def cnt(c: Column): Column = count(when(c, 1))
    def tok(c: Column): Column = coalesce(sum(when(c, col("n_tokens"))), lit(0L))
    flags.agg(
        count(lit(1)).as("d0"), coalesce(sum(col("n_tokens")), lit(0L)).as("t0"),
        cnt(col("keep1")).as("d1"), tok(col("keep1")).as("t1"),
        cnt(col("keep2")).as("d2"), tok(col("keep2")).as("t2"),
        cnt(col("keep3")).as("d3"), tok(col("keep3")).as("t3"))
      .select(explode(array(
        struct(lit(0L).as("stage_id"), lit("raw").as("stage"),
          col("d0").as("docs"), col("t0").as("tokens")),
        struct(lit(1L).as("stage_id"), lit("exact_dedup").as("stage"),
          col("d1").as("docs"), col("t1").as("tokens")),
        struct(lit(2L).as("stage_id"), lit("quality_gate").as("stage"),
          col("d2").as("docs"), col("t2").as("tokens")),
        struct(lit(3L).as("stage_id"), lit("decontaminated").as("stage"),
          col("d3").as("docs"), col("t3").as("tokens")))).as("r"))
      .select(col("r.stage_id").as("stage_id"), col("r.stage").as("stage"),
        col("r.docs").as("docs"), col("r.tokens").as("tokens"))
      .orderBy(col("stage_id"))
  }

  private val q310Sql =
    """WITH q AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio,
      |    md5(text) AS fp_text, md5(substr(text, 1, 100)) AS fp_pre
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
      |q2 AS (
      |  SELECT *, uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |    + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |  FROM q),
      |s1 AS (
      |  SELECT * FROM (
      |    SELECT *, MIN(doc_id) OVER (PARTITION BY fp_text) AS keep FROM q2)
      |  WHERE doc_id = keep),
      |s2 AS (SELECT * FROM s1 WHERE quality >= 0.4),
      |ev AS (SELECT DISTINCT fp_pre FROM q WHERE doc_id % 101 = 0),
      |s3 AS (
      |  SELECT * FROM s2
      |  WHERE doc_id % 101 <> 0 AND fp_pre NOT IN (SELECT fp_pre FROM ev))
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
      |    CAST(COUNT(*) AS BIGINT) AS docs,
      |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tokens FROM q2
      |  UNION ALL SELECT CAST(1 AS BIGINT), 'exact_dedup',
      |    CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s1
      |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality_gate',
      |    CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s2
      |  UNION ALL SELECT CAST(3 AS BIGINT), 'decontaminated',
      |    CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM s3)
      |ORDER BY stage_id""".stripMargin

  // --------------------------------------------------------------- q301

  /** q301: QUALITY THRESHOLD SWEEP — the curation dial rendered as a
    * curve: for every cut-off 0.0, 0.1, …, 1.0 over q71's quality score,
    * how many documents and tokens SURVIVE the bar. Corpus curation is a
    * budget negotiation (tokens kept vs quality floor) and this is the
    * table that negotiation reads; computed in one pass as a broadcast
    * 11-row fan-out + one keyed aggregate, with the score arithmetic
    * shared verbatim with q71 so the threshold comparison is
    * bit-identical in both engines.
    *
    * Scale: the 11× candidate fan-out is a broadcast nested loop over a
    * constant side — O(11·docs) map-side rows into a partial agg; the
    * report is 11 rows at any corpus size. (The single-pass alternative
    * — bucket then suffix-sum — trades the fan-out for a float-bucketing
    * step whose rounding can disagree with the comparison; the sweep
    * keeps the comparison itself as the only float op.)
    */
  private def q301(s: SparkSession, d: String): DataFrame =
    qualityFrame(s, d)
      .crossJoin(s.range(11).select(col("id").as("decile")))
      .filter(col("quality") >= col("decile").cast(DoubleType) / 10.0)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("decile"))

  private val q301Sql =
    """WITH q AS (
      |  SELECT doc_id, n_tokens, stop_ratio, uniq_ratio,
      |    uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |      + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(t) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |t AS (SELECT range AS decile FROM range(11))
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM q JOIN t ON quality >= CAST(decile AS DOUBLE) / 10.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val q71Sql =
    """SELECT doc_id, n_tokens, stop_ratio, uniq_ratio,
      |  uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |    + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |) ORDER BY doc_id""".stripMargin

  /** q72: language identification by marker-token profile — argmax over
    * per-language marker counts with a fixed precedence tie-break, reported
    * as a confusion matrix against the stored lang label. (The synthetic
    * corpus shares one vocabulary across langs, so accuracy is meaningless;
    * the operator shape — profile count + deterministic argmax — is what a
    * real n-gram identifier runs.)
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "a"), "de" -> Seq("table", "row"),
      "es" -> Seq("data", "query"), "fr" -> Seq("filter", "join"),
      "zh" -> Seq("spark", "stream"))
    val withCounts = markers.foldLeft(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
    ) { case (df, (l, ws)) =>
      df.withColumn(s"c_$l", size(filter(col("t"), t => t.isin(ws: _*))).cast(LongType))
    }
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.foldLeft(when(lit(false), lit(""))) {
      case (acc, (l, i)) =>
        val rest = langs.drop(i + 1).map(r => col(s"c_$r"))
        acc.when(col(s"c_$l") >= (if (rest.size == 1) rest.head else greatest(rest: _*)), lit(l))
    }.otherwise(langs.last)
    withCounts
      .withColumn("pred_lang", pred)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  private val q72Sql = {
    val markers = Seq(
      "en" -> Seq("the", "a"), "de" -> Seq("table", "row"),
      "es" -> Seq("data", "query"), "fr" -> Seq("filter", "join"),
      "zh" -> Seq("spark", "stream"))
    val counts = markers.map { case (l, ws) =>
      s"CAST(len(list_filter(t, x -> x IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS c_$l"
    }.mkString(",\n    ")
    val langs = markers.map(_._1)
    val pred = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map("c_" + _)
      val g = if (rest.size == 1) rest.head else s"GREATEST(${rest.mkString(",")})"
      s"WHEN c_$l >= $g THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    s"""SELECT lang, pred_lang, COUNT(*) AS n FROM (
       |  SELECT lang, $pred AS pred_lang FROM (
       |    SELECT doc_id, lang, $counts
       |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
       |  )
       |) GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** q73: exact deduplication on a bag-of-words fingerprint (md5 of the
    * sorted distinct token set) — group-size histogram plus survivor count.
    * The shuffle carries 32-byte fingerprints, not documents.
    */
  private def q73(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))

  private val q73Sql =
    """SELECT group_size, COUNT(*) AS n_groups FROM (
      |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |         COUNT(*) AS group_size
      |  FROM documents GROUP BY fp
      |) GROUP BY group_size ORDER BY group_size""".stripMargin

  /** q74: exact n-gram Jaccard near-dup pairs via an inverted-index
    * self-join on shingles (NOT an all-pairs cross join): explode the
    * distinct 3-gram sets, join on shingle, count intersections per pair,
    * then Jaccard from the per-doc set sizes. Linear in total postings.
    */
  private def q74(s: SparkSession, d: String): DataFrame = {
    // join keys reduced to 64-bit shingle hashes (8-byte shuffle keys;
    // distinct strings stay distinct mod an xxhash64 collision, so the
    // intersection counts — the only thing the output reads from the
    // shingles — are unchanged). q75/q77 keep raw shingles because their
    // md5 identities are replayed by the oracle.
    val sh = shingled(s, d)
      .select(col("doc_id"), expr("transform(shingles, x -> xxhash64(x))").as("shingles"))
      .cache()
    // set size carried per posting (+8 bytes/row through the one fat
    // exchange) — Jaccard.pairsCarried then needs no sizes joins, which
    // re-shuffled the pair mass twice
    val postings = sh.select(col("doc_id").as("id"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("e"))
    Jaccard.pairsCarried(postings, minJ = 0.5, maxDf = Jaccard.StopShingleDf)
      .select(col("ida").as("da"), col("idb").as("db"), col("inter"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  private val q74Sql =
    s"""WITH sh AS ($shingledSql),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hot AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > ${Jaccard.StopShingleDf}),
       |cold AS (SELECT doc_id, s FROM ex WHERE s NOT IN (SELECT s FROM hot)),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cold a JOIN cold b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh)
       |SELECT da, db, inter,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
       |FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** q75: MinHash + LSH near-dup detection — one md5 per shingle split into
    * two 28-bit integers, 16 linear permutations `h1 + i*h2` (Broder-style
    * universal mixing) min-reduced with MAP-SIDE partial aggregation, 4
    * bands of 4 mins as bucket keys, candidate pairs from the bucket
    * self-join, exact Jaccard verification of candidates only. The shuffle
    * carries 16 longs per document; no all-pairs stage exists anywhere.
    */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d).cache()
    // signatures fused into one native codegen kernel per document
    // (graft.functions.MinHashSig, guide §4/§2.4): the old explode →
    // 2×conv(substring(md5)) → 16-column MIN aggregate re-shuffled one row
    // per doc for a value that is a pure function of the row; the fused
    // expression computes the same 16 Broder mins in a single pass over
    // the shingle array (one digest per shingle, no hex strings) and the
    // signature exchange disappears. Bit-identical (HashExprsSpec); the
    // isNotNull filter reproduces the explode dropping shingle-less docs
    // (unreachable here — shingled() requires >= 3 tokens).
    val sig = sh
      .select(col("doc_id"), expr("graft_minhash(shingles, 16)").as("ms"))
      .filter(col("ms").isNotNull)
    val bandCols = (0 until 4).map { b =>
      concat_ws("|", (0 until 4).map(r => col("ms").getItem(b * 4 + r)): _*).as(s"band$b")
    }
    val bands = sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), posexplode(array((0 until 4).map(b => col(s"band$b")): _*))
        .as(Seq("band", "bk")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sets = sh.select(col("doc_id"), col("shingles"))
    cand
      .join(sets.select(col("doc_id").as("da"), col("shingles").as("sa")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shingles").as("sb")), "db")
      .select(
        col("da"), col("db"),
        (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb")))))
          .as("jac"))
      .filter(col("jac") >= 0.5) // keep only verified near-dups
      .orderBy(col("da"), col("db"))
  }

  private val q75Sql = {
    def hex7(off: Int) = Exact.sqlHexToLong("hh", off, 7)
    val mins = (0 until 16).map(i => s"MIN(h1 + $i * h2) AS m$i").mkString(",\n    ")
    val bandKeys = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS ($shingledSql),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST(${hex7(1)} AS BIGINT) AS h1,
       |    CAST(${hex7(9)} AS BIGINT) AS h2
       |  FROM (SELECT doc_id, md5(unnest(shingles)) AS hh FROM sh)),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandKeys),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT da, db,
       |  CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |    / (len(sa.shingles) + len(sb.shingles)
       |       - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))) AS jac
       |FROM cand JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id
       |WHERE CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |    / (len(sa.shingles) + len(sb.shingles)
       |       - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))) >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  // --------------------------------------------------------------- q334

  /** q334: NEAR-DUP LEAKAGE ACROSS SPLITS — the eval-integrity audit
    * q238's exact-group split cannot see: a val/test document whose
    * near-duplicate (q75's verified MinHash-LSH pairs, Jaccard ≥ 0.5)
    * sits in train inflates eval scores without any EXACT duplicate
    * existing. Every verified near-dup pair is labeled with its ends'
    * q69 splits (the engine's one seed-free 80/10/10 hash split) and
    * rolled into the split-pair matrix: pair counts plus the DISTINCT
    * leaked eval docs (the non-train end when ranks differ) — the list
    * a release either re-splits around or quarantines. Same-split pairs
    * stay in the matrix (they are dedup work, not leakage; their
    * n_leaked_docs is 0 by definition).
    *
    * Scale: rides q75's LSH plan unchanged (16-long signatures, banded
    * candidates, verification only on candidates — no all-pairs
    * anywhere); the split labels are two broadcast-size hash joins on
    * doc_id and the matrix is O(split²) rows at any corpus size.
    */
  private def q334(s: SparkSession, d: String): DataFrame = {
    val pairs = q75(s, d).select(col("da"), col("db"))
    val split = Tables.documents(s, d).select(col("doc_id"),
        Digest.docBucket(100).as("b"))
      .select(col("doc_id"),
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test").as("sp"),
        when(col("b") < 80, 0L).when(col("b") < 90, 1L).otherwise(2L).as("rk"))
    pairs
      .join(split.select(col("doc_id").as("da"), col("sp").as("sa"),
        col("rk").as("ra")), "da")
      .join(split.select(col("doc_id").as("db"), col("sp").as("sb"),
        col("rk").as("rb")), "db")
      .select(
        concat(
          when(col("ra") <= col("rb"), col("sa")).otherwise(col("sb")),
          lit("-"),
          when(col("ra") <= col("rb"), col("sb")).otherwise(col("sa")))
          .as("pair"),
        when(col("ra") < col("rb"), col("db"))
          .when(col("rb") < col("ra"), col("da"))
          .otherwise(lit(null).cast(LongType)).as("eval_doc"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("eval_doc")).as("n_leaked_docs"))
      .orderBy(col("pair"))
  }

  private val q334Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 7)
    s"""WITH p AS ($q75Sql),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |         ELSE 'test' END AS sp,
       |    CASE WHEN b < 80 THEN 0 WHEN b < 90 THEN 1 ELSE 2 END AS rk
       |  FROM (SELECT doc_id, CAST($hex7 AS BIGINT) % 100 AS b FROM documents)),
       |j AS (
       |  SELECT
       |    CASE WHEN sa.rk <= sb.rk THEN sa.sp || '-' || sb.sp
       |         ELSE sb.sp || '-' || sa.sp END AS pair,
       |    CASE WHEN sa.rk < sb.rk THEN p.db
       |         WHEN sb.rk < sa.rk THEN p.da END AS eval_doc
       |  FROM p JOIN sp sa ON p.da = sa.doc_id JOIN sp sb ON p.db = sb.doc_id)
       |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(COUNT(DISTINCT eval_doc) AS BIGINT) AS n_leaked_docs
       |FROM j GROUP BY pair ORDER BY pair""".stripMargin
  }

  // --------------------------------------------------------------- q337

  /** q337: URL CANONICALIZATION DEDUP — the crawl-hygiene stage that runs
    * BEFORE any text exists: raw fetch records whose URLs differ only in
    * host case, default port, trailing slash, fragment, tracking params
    * (`utm_*`), or query-parameter ORDER are the same page, and a frontier
    * that can't see that refetches and restores every page many times
    * over. Fetch URLs are assembled from event attributes with all six
    * noise dimensions driven by event_id residues (so the oracle exercises
    * the CANONICALIZER, not the synthesis); canonicalization is the RFC
    * 3986 normalization essence — lowercase host, strip `:443`, drop
    * fragment, drop `utm_*` params, sort surviving params, strip trailing
    * slash — and the rollup groups fetches by canonical URL with
    * earliest-fetch-wins survivorship (`first_fetch`) plus the raw-variant
    * count that measures the noise the canonicalizer absorbed.
    *
    * Scale: per-row scalar regex/array work (map-only, codegen'd, no UDF),
    * then ONE shuffle keyed by canonical URL — the frontier-dedup shape
    * that holds at any crawl size; nothing driver-side anywhere.
    */
  private def q337(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("url", concat(
        lit("https://"),
        when(col("event_id") % 2 === 0, lit("Crawl.Example.ORG"))
          .otherwise(lit("crawl.example.org")),
        when(col("event_id") % 11 === 0, lit(":443")).otherwise(lit("")),
        lit("/u/"), col("user_id"), lit("/"), col("event_type"),
        when(col("event_id") % 7 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(col("event_id") % 2 === 0,
          concat(lit("page="), col("user_id") % 10, lit("&ref="), col("event_type")))
          .otherwise(
            concat(lit("ref="), col("event_type"), lit("&page="), col("user_id") % 10)),
        when(col("event_id") % 3 === 0,
          concat(lit("&utm_source=e"), col("event_id") % 4)).otherwise(lit("")),
        when(col("event_id") % 5 === 0, lit("#frag")).otherwise(lit(""))))
    raw
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("canon", concat(
        lower(regexp_extract(col("nofrag"), "^https://([^/:?#]+)", 1)),
        regexp_replace(
          regexp_extract(col("nofrag"), "^https://[^/?#]+([^?#]*)", 1), "/$", ""),
        lit("?"),
        expr("array_join(array_sort(filter(split(" +
          "regexp_extract(nofrag, '\\\\?(.*)$', 1), '&')," +
          " x -> NOT startswith(x, 'utm_'))), '&')")))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_fetches"),
        countDistinct(col("url")).as("n_raw_variants"),
        min(col("event_id")).as("first_fetch"))
      .orderBy(col("canon"))
  }

  private val q337Sql =
    """WITH raw AS (
      |  SELECT event_id,
      |    'https://' ||
      |    CASE WHEN event_id % 2 = 0 THEN 'Crawl.Example.ORG'
      |         ELSE 'crawl.example.org' END ||
      |    CASE WHEN event_id % 11 = 0 THEN ':443' ELSE '' END ||
      |    '/u/' || user_id || '/' || event_type ||
      |    CASE WHEN event_id % 7 = 0 THEN '/' ELSE '' END || '?' ||
      |    CASE WHEN event_id % 2 = 0
      |         THEN 'page=' || (user_id % 10) || '&ref=' || event_type
      |         ELSE 'ref=' || event_type || '&page=' || (user_id % 10) END ||
      |    CASE WHEN event_id % 3 = 0 THEN '&utm_source=e' || (event_id % 4)
      |         ELSE '' END ||
      |    CASE WHEN event_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      |  FROM events),
      |c AS (
      |  SELECT event_id, url,
      |    lower(regexp_extract(nofrag, '^https://([^/:?#]+)', 1)) ||
      |    regexp_replace(regexp_extract(nofrag, '^https://[^/?#]+([^?#]*)', 1),
      |      '/$', '') ||
      |    '?' ||
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
      |      x -> NOT starts_with(x, 'utm_'))), '&') AS canon
      |  FROM (SELECT event_id, url, regexp_replace(url, '#.*$', '') AS nofrag
      |        FROM raw))
      |SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_fetches,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
      |  MIN(event_id) AS first_fetch
      |FROM c GROUP BY canon ORDER BY canon""".stripMargin

  // --------------------------------------------------------------- q343

  /** q343: PREFERENCE-PAIR ASSEMBLY — the reward-model data prep of an
    * RLHF pipeline: within each group (user standing in for "prompt"),
    * the highest-reward candidate becomes `chosen`, the lowest becomes
    * `rejected`, and the pair ships with its exact reward `margin` (the
    * loss-weighting signal) and the candidate count. Ties break
    * deterministically on event_id, degenerate groups (margin ≤ 0 or a
    * single candidate) are dropped — a pair whose raters can't be told
    * apart teaches nothing.
    *
    * Scale: ONE group-keyed partial aggregate — chosen/rejected are
    * `max/min` over tiny (reward, id) structs, so no per-group sort, no
    * window buffer, no row_number materialization; margins stay exact
    * DECIMAL until the final per-row double cast (the [[graft.Exact]]
    * discipline). Assembling 10⁹ candidate generations into pairs is
    * exactly one shuffle.
    */
  private def q343(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), Exact.money(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        max(struct(col("v"), (-col("event_id")).as("neg_id"))).as("c"),
        min(struct(col("v"), col("event_id"))).as("r"))
      .filter(col("n_candidates") >= 2 && col("c.v") > col("r.v"))
      .select(col("user_id"),
        (-col("c.neg_id")).as("chosen_event"),
        col("r.event_id").as("rejected_event"),
        (col("c.v") - col("r.v")).cast(DoubleType).as("margin"),
        col("n_candidates"))
      .orderBy(col("user_id"))

  private val q343Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events WHERE value IS NOT NULL),
      |c AS (
      |  SELECT user_id, event_id, v,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v DESC, event_id)
      |      AS rk
      |  FROM e),
      |r AS (
      |  SELECT user_id, event_id, v,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v ASC, event_id)
      |      AS rk
      |  FROM e),
      |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
      |      FROM e GROUP BY 1)
      |SELECT n.user_id, c.event_id AS chosen_event, r.event_id AS rejected_event,
      |  CAST(c.v - r.v AS DOUBLE) AS margin, n_candidates
      |FROM n JOIN c ON n.user_id = c.user_id AND c.rk = 1
      |       JOIN r ON n.user_id = r.user_id AND r.rk = 1
      |WHERE n_candidates >= 2 AND c.v > r.v
      |ORDER BY n.user_id""".stripMargin

  // --------------------------------------------------------------- q342

  /** q342: INTER-RATER AGREEMENT (Cohen's κ) — the eval-ops statistic a
    * labeling pipeline reports before anyone trusts its labels: when two
    * raters gate the same corpus (here the q71 quality bar at 0.56 and
    * the English weak label — in production, two LLM judges or a judge
    * vs a human pass), raw percent agreement flatters imbalanced labels;
    * κ subtracts chance agreement. Per source: the full confusion matrix,
    * observed agreement `po`, chance agreement `pe` (marginal products),
    * and κ — every one an exact scaled integer derived from counts
    * (`po_ppm = (n11+n00)·10⁶ div n`, `pe_ppm` from the marginals over
    * n², `κ_ppm = (po−pe)·10⁶ div (10⁶−pe)` with symmetric truncation so
    * a negative κ divides identically in both engines; NULL when pe = 1,
    * where κ is undefined). The quality threshold compares bit-identical
    * doubles (the q301/q317 discipline).
    *
    * Scale: one scan, one source-keyed partial agg — the confusion
    * matrix is four counters per group; κ over 10⁹ labeled rows costs
    * exactly one aggregate pass.
    */
  private def q342(s: SparkSession, d: String): DataFrame =
    qualityFrame(s, d)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("source"),
        (col("quality") >= 0.56).as("ra"),
        (col("lang") === "en").as("rb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        count(when(col("ra") && col("rb"), 1)).as("n11"),
        count(when(col("ra") && !col("rb"), 1)).as("n10"),
        count(when(!col("ra") && col("rb"), 1)).as("n01"),
        count(when(!col("ra") && !col("rb"), 1)).as("n00"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
      .withColumn("pe_ppm", expr(
        "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) " +
          "* 1000000 div (n * n)"))
      .withColumn("kappa_ppm", expr(
        "CASE WHEN pe_ppm = 1000000 THEN NULL " +
          "WHEN po_ppm >= pe_ppm THEN " +
          "  (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm) " +
          "ELSE -((pe_ppm - po_ppm) * 1000000 div (1000000 - pe_ppm)) END"))
      .orderBy(col("source"))

  private val q342Sql =
    """WITH q AS (
      |  SELECT doc_id,
      |    uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |      + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(t) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE)
      |        / len(t) AS stop_ratio,
      |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |lab AS (
      |  SELECT d.source, (q.quality >= 0.56) AS ra, (d.lang = 'en') AS rb
      |  FROM q JOIN documents d USING (doc_id)),
      |m AS (
      |  SELECT source,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(CASE WHEN ra AND rb THEN 1 END) AS BIGINT) AS n11,
      |    CAST(COUNT(CASE WHEN ra AND NOT rb THEN 1 END) AS BIGINT) AS n10,
      |    CAST(COUNT(CASE WHEN NOT ra AND rb THEN 1 END) AS BIGINT) AS n01,
      |    CAST(COUNT(CASE WHEN NOT ra AND NOT rb THEN 1 END) AS BIGINT) AS n00
      |  FROM lab GROUP BY source),
      |p AS (
      |  SELECT *,
      |    CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
      |    CAST(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |      * 1000000 // (n * n) AS BIGINT) AS pe_ppm
      |  FROM m)
      |SELECT source, n, n11, n10, n01, n00, po_ppm, pe_ppm,
      |  CASE WHEN pe_ppm = 1000000 THEN NULL
      |       WHEN po_ppm >= pe_ppm THEN
      |         CAST((po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm) AS BIGINT)
      |       ELSE -CAST((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm) AS BIGINT)
      |  END AS kappa_ppm
      |FROM p ORDER BY source""".stripMargin

  private val SimBits = 32

  /** q76: SimHash near-dup detection — 32-bit signatures from per-token md5
    * bit votes, candidate pairs via 2×16-bit band buckets, Hamming distance
    * ≤ 6 verified with xor + bit_count. Signature build is one hash agg;
    * candidate join shuffles on 16-bit chunk keys.
    */
  private def q76(s: SparkSession, d: String): DataFrame = {
    // signature fused into one native codegen kernel per document
    // (graft.functions.SimHashSig, guide §4/§2.4): the old explode →
    // conv(substring(md5)) → 32 SUM(CASE)-vote aggregate → sign fold
    // re-shuffled one row per doc for a per-row-computable value and
    // evaluated 32 CASE expressions per token; the fused expression votes
    // all 32 bits in a single pass over the token array and the signature
    // exchange disappears. Bit-identical (HashExprsSpec); the isNotNull
    // filter reproduces the explode dropping docs with a null token array
    // (split() of a non-null text is never null or empty here).
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"graft_simhash(split(text, ' '), $SimBits)").as("sig"))
      .filter(col("sig").isNotNull)
    val chunks = sigs.select(col("doc_id"), col("sig"), posexplode(array(
      expr("sig % 65536"), expr("(sig div 65536) % 65536"))).as(Seq("ci", "chunk")))
    chunks.as("a").join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.sig ^ b.sig)").cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy(col("da"), col("db"))
  }

  private val q76Sql = {
    val votes = (0 until SimBits).map { b =>
      s"SUM(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val sig = (0 until SimBits).map { b =>
      s"CASE WHEN v$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    // md5 hex prefix -> integer via per-char parse (DuckDB has no conv())
    val hexval = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(hh, $i, 1)) - 1) * ${1L << ((8 - i) * 4)}"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS hh FROM documents),
       |tokh AS (SELECT doc_id, CAST($hexval AS BIGINT) AS h FROM (SELECT doc_id, substr(hh, 1, 8) AS hh FROM tok)),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM tokh GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sig AS sig FROM votes),
       |chunks AS (
       |  SELECT doc_id, sig, 0 AS ci, sig % 65536 AS chunk FROM sigs
       |  UNION ALL
       |  SELECT doc_id, sig, 1 AS ci, (sig // 65536) % 65536 AS chunk FROM sigs)
       |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 6
       |ORDER BY da, db""".stripMargin
  }

  /** q77: document fingerprinting — a bottom-4 sketch over shingle hashes
    * (winnowing-style selection of extremal hashes), collided groups
    * reported as near-dup clusters.
    */
  private def q77(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(col("doc_id"), md5(array_join(
        slice(array_sort(transform(col("shingles"), x => md5(x))), 1, 4), "|")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  private val q77Sql =
    s"""WITH sh AS ($shingledSql)
       |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS keeper, MAX(doc_id) AS max_doc
       |FROM (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_transform(shingles, x -> md5(x)))[1:4], '|')) AS fp
       |  FROM sh
       |) GROUP BY fp HAVING COUNT(*) > 1
       |ORDER BY fp""".stripMargin

  /** q78: bottom-k sketch per language via the custom typed Aggregator
    * (graft.functions.BottomKAgg): the 4 smallest 28-bit md5 values of the
    * documents in each language — a mergeable group fingerprint whose
    * shuffle cost is k longs per group at any scale.
    */
  private def q78(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        Digest.bucket(col("text"), 1, 7).as("h"))
      .groupBy(col("lang"))
      .agg(graft.functions.BottomK.bottomK(4)(col("h")).as("b4"),
        count(lit(1)).as("n_docs"))
      .select(col("lang"),
        expr("array_join(transform(b4, x -> CAST(x AS STRING)), ',')").as("bottom4"),
        col("n_docs"))
      .orderBy(col("lang"))

  private val q78Sql = {
    val hex7 = (0 until 7).map { i =>
      s"(strpos('0123456789abcdef', substr(hh, ${1 + i}, 1)) - 1) * ${1L << ((6 - i) * 4)}"
    }.mkString(" + ")
    s"""SELECT lang,
       |  array_to_string(list_sort(list(h))[1:4], ',') AS bottom4,
       |  COUNT(*) AS n_docs
       |FROM (
       |  SELECT lang, CAST($hex7 AS BIGINT) AS h
       |  FROM (SELECT lang, substr(md5(text), 1, 7) AS hh FROM documents)
       |) GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q79: the end-to-end training-data prep pipeline, composed from the
    * operators above — quality gate → exact dedup (bag-of-words keeper) →
    * MinHash+LSH near-dup removal (drop the higher doc_id of each verified
    * pair) → per-language corpus stats. Every stage is the scale shape
    * already verified individually: per-row scoring, fingerprint hash-agg,
    * banded candidate join, exact re-score of candidates only.
    */
  private def q79(s: SparkSession, d: String): DataFrame = {
    // stage 1: quality gate (uniq_ratio from q71, threshold 0.10)
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"), toks(col("text")).as("t"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("t"))).cast(DoubleType) / size(col("t")))
      .filter(col("uniq_ratio") >= 0.10)
    // stage 2: exact dedup — keep min doc_id per bag-of-words fingerprint
    val keepers = scored
      .withColumn("fp", md5(array_join(array_sort(array_distinct(col("t"))), " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val surv1 = scored.join(keepers, "doc_id")
    // stage 3: near-dup removal among survivors (q75's minhash machinery)
    val sh = surv1
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
      )).as("shingles"))
      .cache()
    // fused MinHash signature kernel — same swap as q75 (guide §4/§2.4),
    // bit-identical per HashExprsSpec
    val sig = sh
      .select(col("doc_id"), expr("graft_minhash(shingles, 16)").as("ms"))
      .filter(col("ms").isNotNull)
    val bandCols = (0 until 4).map { b =>
      concat_ws("|", (0 until 4).map(r => col("ms").getItem(b * 4 + r)): _*).as(s"band$b")
    }
    val bands = sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), posexplode(array((0 until 4).map(b => col(s"band$b")): _*))
        .as(Seq("band", "bk")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sets = sh.select(col("doc_id"), col("shingles"))
    val dropIds = cand
      .join(sets.select(col("doc_id").as("da"), col("shingles").as("sa")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shingles").as("sb")), "db")
      .filter(
        size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb"))))
          >= 0.5)
      .select(col("db").as("doc_id"))
      .distinct()
    // stage 4: stats over the final corpus
    surv1.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("t"))).as("n_tokens"))
      .orderBy(col("lang"))
  }

  private val q79Sql = {
    val hex7 = (off: Int) => (0 until 7).map { i =>
      s"(strpos('0123456789abcdef', substr(hh, ${off + i}, 1)) - 1) * ${1L << ((6 - i) * 4)}"
    }.mkString(" + ")
    val mins = (0 until 16).map(i => s"MIN(h1 + $i * h2) AS m$i").mkString(", ")
    val bandKeys = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"m${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang, t FROM (
       |    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
       |  WHERE CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.10),
       |keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id, md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
       |    FROM scored) GROUP BY fp),
       |surv1 AS (SELECT s.* FROM scored s JOIN keepers k ON s.doc_id = k.doc_id),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM surv1 WHERE len(t) >= 3),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST(${hex7(1)} AS BIGINT) AS h1,
       |    CAST(${hex7(9)} AS BIGINT) AS h2
       |  FROM (SELECT doc_id, md5(unnest(shingles)) AS hh FROM sh)),
       |sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id),
       |bands AS (
       |  $bandKeys),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
       |dropids AS (
       |  SELECT DISTINCT db AS doc_id
       |  FROM cand JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id
       |  WHERE CAST(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) AS DOUBLE)
       |      / (len(sa.shingles) + len(sb.shingles)
       |         - len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x)))) >= 0.5)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
       |FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q127

  /** q127: bounded edit-distance near-dup audit — per-language candidate
    * pairs from prefix blocking (same first-8-chars block, the classic
    * cheap blocking key: collision count grows with block skew, never
    * quadratically in corpus size), scored with Spark's thresholded
    * `levenshtein(a, b, 32)` over 64-char prefixes. The threshold arg is
    * the scale lever: the DP early-abandons once the distance provably
    * exceeds 32 (O(k·n) band instead of O(n²) table), which is what makes
    * edit distance affordable as a dedup verifier at corpus scale. The
    * oracle recomputes with unbounded levenshtein and filters — identical
    * results for every surviving pair.
    */
  private def q127(s: SparkSession, d: String): DataFrame = {
    val p = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      substring(col("text"), 1, 64).as("pre"),
      substring(col("text"), 1, 8).as("blk"))
    val a = p.select(col("lang"), col("blk"), col("doc_id").as("ida"), col("pre").as("pa"))
    val b = p.select(col("lang"), col("blk"), col("doc_id").as("idb"), col("pre").as("pb"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("ida") < col("idb"))
      .withColumn("dist", levenshtein(col("pa"), col("pb"), 32))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("dist") >= 0, 1)).as("n_neardup"),
        min(when(col("dist") >= 0, col("dist"))).cast(LongType).as("min_dist"))
      .orderBy(col("lang"))
  }

  private val q127Sql =
    """WITH p AS (
      |  SELECT doc_id, lang, substr(text, 1, 64) AS pre,
      |         substr(text, 1, 8) AS blk
      |  FROM documents),
      |c AS (
      |  SELECT a.lang, levenshtein(a.pre, b.pre) AS dist
      |  FROM p a JOIN p b ON a.lang = b.lang AND a.blk = b.blk
      |                   AND a.doc_id < b.doc_id)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(COUNT(CASE WHEN dist <= 32 THEN 1 END) AS BIGINT) AS n_neardup,
      |  CAST(MIN(CASE WHEN dist <= 32 THEN dist END) AS BIGINT) AS min_dist
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** q150: canonicalized exact dedup — the "fuzzy-exact" pass every corpus
    * pipeline runs before hashing: lower-case, strip non-alphanumerics,
    * collapse whitespace, THEN fingerprint. Surfaces duplicates that raw
    * md5 (q73) misses — same content, different punctuation/casing. The
    * one-row profile reports how much the canonicalization merged.
    *
    * Scale: two per-row codegen'd projections + distinct-count aggregates
    * over 16-byte fingerprints; full text never shuffles.
    *
    * This synthetic corpus is already punctuation-free lower-case, so
    * `merged_by_canon` is legitimately 0 here (the oracle verifies the
    * whole computation regardless); `TextOpsSpec` proves the
    * canonicalizer merges real case/punctuation variants.
    */
  private[operators] def canonText(c: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(c, "[^a-zA-Z0-9 ]", " ")), " +", " "))

  private def q150(s: SparkSession, d: String): DataFrame = {
    val canon = canonText(col("text"))
    Tables.documents(s, d)
      .select(md5(col("text")).as("raw_fp"), md5(canon).as("canon_fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_fp")).as("distinct_raw"),
        countDistinct(col("canon_fp")).as("distinct_canonical"),
        (countDistinct(col("raw_fp")) - countDistinct(col("canon_fp")))
          .as("merged_by_canon"))
  }

  private val q150Sql =
    """SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS distinct_raw,
      |  COUNT(DISTINCT md5(trim(regexp_replace(
      |    lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
      |    ' +', ' ', 'g')))) AS distinct_canonical,
      |  COUNT(DISTINCT md5(text))
      |    - COUNT(DISTINCT md5(trim(regexp_replace(
      |        lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
      |        ' +', ' ', 'g')))) AS merged_by_canon
      |FROM documents""".stripMargin

  /** q151: benchmark decontamination — flag training documents sharing any
    * 8-gram with a held-out benchmark set (`doc_id % 7 = 0` stands in for
    * the eval suite), reported per source. The first-class hygiene pass of
    * LLM data prep: contamination inflates eval scores, so the overlap
    * check runs over the WHOLE corpus before training.
    *
    * Scale: grams travel as 64-bit xxhash64 keys — 8 bytes on the wire
    * and a codegen'd hash, an order of magnitude cheaper than a
    * cryptographic digest per gram (the md5 spelling of this query cost
    * 17 s at sf0.1; this one ~2 s). The oracle joins the RAW 8-gram
    * strings, so the two spellings agree unless two distinct grams
    * collide in 64 bits (birthday bound ≈ 5e-6 at 10⁷ grams — the q74
    * argument); at 100 TB you'd widen to 128-bit, not fall back to
    * strings. The benchmark gram set is benchmark-sized → broadcast; the
    * contamination test is a broadcast SEMI join per posting followed by
    * a per-doc distinct — linear in train postings, never
    * corpus × benchmark. Per-source totals come from a shingle-free
    * projection so the gram pass runs once per side, not twice.
    */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
    val grams = base.select(col("doc_id"), col("source"),
      explode(array_distinct(expr(
        """transform(sequence(0, size(t)-8),
          |  i -> xxhash64(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
          |                          t[i+4], t[i+5], t[i+6], t[i+7])))""".stripMargin)))
        .as("g"))
    val bench = grams.filter(col("doc_id") % 7 === 0).select(col("g")).distinct()
    val contaminated = grams.filter(col("doc_id") % 7 =!= 0)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
    base.filter(col("doc_id") % 7 =!= 0)
      .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
      .join(contaminated.groupBy(col("source"))
          .agg(count(lit(1)).as("nc")),
        Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("nc"), lit(0L)).as("n_contaminated"))
      .orderBy(col("source"))
  }

  private val q151Sql =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(t)-6),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |           || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS g
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 8),
      |bench AS (SELECT DISTINCT unnest(g) AS g FROM sh WHERE doc_id % 7 = 0),
      |train AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id, t.source
      |  FROM (SELECT doc_id, source, unnest(g) AS g FROM train) t
      |  JOIN bench b ON t.g = b.g)
      |SELECT t.source, COUNT(*) AS n_train,
      |  COALESCE(MAX(c.nc), 0) AS n_contaminated
      |FROM train t
      |LEFT JOIN (SELECT source, COUNT(*) AS nc FROM contaminated GROUP BY 1) c
      |  ON t.source = c.source
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** q169: sorted-neighborhood near-dup detection — the SORT-based
    * blocking alternative to hash LSH (q75) and embedding buckets (q82):
    * documents sort by text within an 8-char-prefix block, each compares
    * to its next 2 neighbors only, flagged when the bounded edit distance
    * of the first 64 chars is ≤ 16. Classic MDM record-linkage blocking:
    * O(n·w) comparisons instead of O(n²), at the documented cost of
    * missing pairs that straddle a block boundary.
    *
    * Scale: the block prefix IS the shuffle partition key and the sort is
    * within-partition — no global-order window anywhere; the window state
    * is the w=2 lookahead.
    */
  private def q169(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, 8).as("block"),
        substring(col("text"), 1, 64).as("head"))
    val w = Window.partitionBy(col("block")).orderBy(col("text"), col("doc_id"))
    val flagged = (1 to 2).map { k =>
      docs
        .withColumn("nb_id", lead(col("doc_id"), k).over(w))
        .withColumn("nb_head", lead(col("head"), k).over(w))
        .filter(col("nb_id").isNotNull)
        .select(col("doc_id").as("doc_a"), col("nb_id").as("doc_b"),
          levenshtein(col("head"), col("nb_head"), 16).cast(LongType).as("dist"))
        .filter(col("dist") >= 0 && col("dist") <= 16)
    }.reduce(_ union _)
    flagged.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("dist"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q169Sql =
    """WITH d AS (
      |  SELECT doc_id, text, substring(text, 1, 8) AS block,
      |    substring(text, 1, 64) AS head
      |  FROM documents),
      |nb AS (
      |  SELECT doc_id, head,
      |    LEAD(doc_id, 1) OVER w AS n1_id, LEAD(head, 1) OVER w AS n1_head,
      |    LEAD(doc_id, 2) OVER w AS n2_id, LEAD(head, 2) OVER w AS n2_head
      |  FROM d WINDOW w AS (PARTITION BY block ORDER BY text, doc_id)),
      |pairs AS (
      |  SELECT doc_id AS doc_a, n1_id AS doc_b,
      |    levenshtein(head, n1_head) AS dist
      |  FROM nb WHERE n1_id IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, n2_id, levenshtein(head, n2_head)
      |  FROM nb WHERE n2_id IS NOT NULL)
      |SELECT DISTINCT LEAST(doc_a, doc_b) AS doc_a,
      |  GREATEST(doc_a, doc_b) AS doc_b, CAST(dist AS BIGINT) AS dist
      |FROM pairs WHERE dist <= 16
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Cold postings `(id, g, df)`: one row per (doc, shingle) whose
    * document frequency is ≤ maxDf — the stop-shingle gate q74/q85/q113
    * apply inside [[Jaccard.pairs]], factored out so q175/q182's
    * self-built candidate stages get the same bound (and the same
    * JaccardSpec-style spec pins). The df aggregate ships map-side
    * partials and its output rides the postings' element-keyed exchange.
    */
  private[operators] def coldPostings(sh: DataFrame, maxDf: Long): DataFrame = {
    val postings = sh.select(col("doc_id").as("id"), explode(col("shingles")).as("g"))
    postings.join(
      postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      "g")
  }

  /** Candidate stage of q175, exposed for the hot-element bound spec:
    * τ = ½ prefixes over the COLD (df ≤ maxDf) shingle universe, joined
    * on the prefix token — distinct undirected `(da, db)` pairs. An
    * element in k ≤ maxDf docs emits ≤ k(k−1)/2 pairs, so the candidate
    * count is bounded by maxDf/2 × |cold prefix postings|.
    */
  private[operators] def prefixCandidates(sh: DataFrame, maxDf: Long): DataFrame = {
    val prefixes = coldPostings(sh, maxDf)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g"))))
        .getField("g").as("ts"))
      .select(col("id"),
        explode(expr("slice(ts, 1, CAST(size(ts) div 2 AS INT) + 1)")).as("g"))
    prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
  }

  /** Full q175 core on an arbitrary `(doc_id, shingles)` frame: prefix
    * candidates verified exactly — `inter` counts COLD shared shingles,
    * `un` uses FULL set sizes (the family's stop-shingle convention).
    */
  private[operators] def prefixFilterPairs(sh: DataFrame, maxDf: Long): DataFrame = {
    val coldSets = coldPostings(sh, maxDf)
      .groupBy(col("id")).agg(collect_set(col("g")).as("cs"))
    val sizes = sh.select(col("doc_id").as("id"), size(col("shingles")).as("sz"))
    prefixCandidates(sh, maxDf)
      .join(coldSets.select(col("id").as("da"), col("cs").as("sa")), "da")
      .join(coldSets.select(col("id").as("db"), col("cs").as("sb")), "db")
      .join(sizes.select(col("id").as("da"), col("sz").as("za")), "da")
      .join(sizes.select(col("id").as("db"), col("sz").as("zb")), "db")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .select(col("da"), col("db"), col("inter"),
        (col("za") + col("zb") - col("inter")).cast(LongType).as("un"))
      .filter(col("inter") * 2 >= col("un"))
      .orderBy(col("da"), col("db"))
  }

  /** q175: exact set-similarity join via PREFIX FILTERING (the
    * Chaudhuri/PPJoin principle): under any global token order, two
    * shingle sets with Jaccard ≥ τ MUST share a token within their first
    * |s| − ⌈τ·|s|⌉ + 1 tokens — so only that prefix is indexed and joined,
    * and the candidate set provably loses nothing. Canonical order is
    * ascending document frequency (rarest first), which makes prefixes
    * collide as little as possible; τ = ½ halves the postings vs q74's
    * full inverted index, and the shrink GROWS with τ.
    *
    * Round 7: the stage runs over the COLD shingle universe
    * (df ≤ [[Jaccard.StopShingleDf]]), joining the q74/q85/q113
    * convention — intersections count cold shingles, denominators keep
    * full set sizes. Losslessness survives the cap: if
    * 2·|∩cold| ≥ |a|+|b|−|∩cold| then (cold sizes ≤ full sizes) the cold
    * sets have Jaccard ≥ ½, so the theorem applies to them and the pair
    * shares a cold prefix token. The oracle is the EXHAUSTIVE cold
    * shared-token join, so the hash compare checks the theorem itself;
    * TextOpsSpec pins the candidate bound on a hot-element fixture.
    *
    * Scale: postings shuffle is prefix-sized AND df-capped — a
    * boilerplate shingle in half the corpus generates zero candidates;
    * the candidate count is ≤ maxDf/2 × |prefix postings|, linear again.
    */
  private def q175(s: SparkSession, d: String): DataFrame =
    prefixFilterPairs(shingled(s, d).cache(), Jaccard.StopShingleDf)

  private val q175Sql =
    s"""WITH sh AS ($shingledSql),
       |p AS (SELECT doc_id AS id, unnest(shingles) AS g FROM sh),
       |hot AS (SELECT g FROM p GROUP BY g
       |        HAVING COUNT(*) > ${Jaccard.StopShingleDf}),
       |cold AS (SELECT id, g FROM p WHERE g NOT IN (SELECT g FROM hot)),
       |i AS (
       |  SELECT a.id AS da, b.id AS db, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cold a JOIN cold b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2),
       |s AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh)
       |SELECT da, db, inter, CAST(sa.sz + sb.sz - inter AS BIGINT) AS un
       |FROM i JOIN s sa ON da = sa.doc_id JOIN s sb ON db = sb.doc_id
       |WHERE 2 * inter >= sa.sz + sb.sz - inter
       |ORDER BY da, db""".stripMargin

  /** Candidate+intersection stage of q182, exposed for the hot-element
    * bound spec: directed pairs `(contained, container, inter)` counted
    * straight off the COLD postings self-join — no distinct-then-rejoin
    * of full arrays. An element in k ≤ maxDf docs emits ≤ k(k−1) directed
    * pairs, so the stage ships at most maxDf × |cold postings| rows.
    */
  private[operators] def containmentCandidates(sh: DataFrame, maxDf: Long): DataFrame = {
    val cold = coldPostings(sh, maxDf).select(col("id"), col("g"))
    cold.as("a").join(cold.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("contained"), col("b.id").as("container"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Full q182 core on an arbitrary `(doc_id, shingles)` frame. */
  private[operators] def containmentPairs(sh: DataFrame, maxDf: Long): DataFrame =
    containmentCandidates(sh, maxDf)
      .join(sh.select(col("doc_id").as("contained"),
        size(col("shingles")).cast(LongType).as("na")), "contained")
      .filter(col("inter") * 5 >= col("na") * 4)
      .select(col("contained"), col("container"), col("inter"), col("na"))
      .orderBy(col("contained"), col("container"))

  /** q182: ASYMMETRIC containment detection — directed pairs where ≥ 80 %
    * of the contained document's 3-gram shingles appear in the container
    * (C(a,b) = |a∩b|/|a| ≥ 0.8 ⟺ 5·|∩| ≥ 4·|a|, exact integers). The
    * dedup semantic Jaccard misses by construction: a short document
    * quoted inside a long one has high containment but low resemblance,
    * and quotation/subset removal is its own pass in corpus prep.
    *
    * Round 7: joins the stop-shingle convention — `inter` counts COLD
    * (df ≤ [[Jaccard.StopShingleDf]]) shared shingles while `na` keeps
    * the full set size, so a doc whose overlap with another is pure
    * boilerplate is NOT flagged as contained (the corpus-prep behavior
    * you want: license headers don't make every short file "contained").
    * The cap is interpolated into the oracle from the one definition.
    *
    * Scale: candidate generation shuffles on the shingle key, never
    * all-pairs, and the df cap bounds the directed fan-out at
    * maxDf × |cold postings|; intersections are counted in the same
    * aggregation (map-side combined), with only the contained-side size
    * joined after — candidates keep BOTH directions since the score is
    * asymmetric. TextOpsSpec pins the bound on a hot-element fixture.
    */
  private def q182(s: SparkSession, d: String): DataFrame =
    containmentPairs(shingled(s, d).cache(), Jaccard.StopShingleDf)

  private val q182Sql =
    s"""WITH sh AS ($shingledSql),
       |p AS (SELECT doc_id AS id, unnest(shingles) AS g FROM sh),
       |hot AS (SELECT g FROM p GROUP BY g
       |        HAVING COUNT(*) > ${Jaccard.StopShingleDf}),
       |cold AS (SELECT id, g FROM p WHERE g NOT IN (SELECT g FROM hot)),
       |i AS (
       |  SELECT a.id AS contained, b.id AS container,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cold a JOIN cold b ON a.g = b.g AND a.id <> b.id
       |  GROUP BY 1, 2),
       |s AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS na FROM sh)
       |SELECT contained, container, inter, na
       |FROM i JOIN s ON contained = s.doc_id
       |WHERE 5 * inter >= 4 * na
       |ORDER BY contained, container""".stripMargin

  // --------------------------------------------------------------- q230

  /** q230: cross-source contamination MATRIX — q151 generalized from one
    * aggregate row per train source to the full (train source × eval
    * source) grid: shared distinct 8-grams and contaminated eval docs per
    * cell, zeros included (the complete grid is the artifact a data audit
    * publishes: WHICH corpus leaked into WHICH eval suite). Eval set =
    * doc_id % 7 == 0, the q151 convention; gram identity travels as
    * codegen'd xxhash64 while the oracle groups raw gram text (engines
    * diverge only on a 64-bit collision, the q151/q219 rule).
    *
    * Scale: train grams dedup to (source, gram) before the join — the
    * per-source distinct bounds the train side at #sources × vocab; the
    * probe joins on the 8-byte gram key and aggregates with partial
    * combine. The zero-filling cross join is #sources² rows — driver
    * trivial. Eval suites are small by construction (the bench split),
    * so the hit fan-out is bounded by eval size, not corpus size.
    */
  private def q230(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
    val grams = base.select(col("doc_id"), col("source"),
      explode(array_distinct(expr(
        """transform(sequence(0, size(t)-8),
          |  i -> xxhash64(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
          |                          t[i+4], t[i+5], t[i+6], t[i+7])))""".stripMargin)))
        .as("g"))
    val tg = grams.filter(col("doc_id") % 7 =!= 0)
      .select(col("source").as("train_source"), col("g")).distinct()
    val eg = grams.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("source").as("eval_source"), col("g"))
    val hits = eg.join(tg, "g")
      .groupBy(col("train_source"), col("eval_source"))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("doc_id")).as("n_contaminated_docs"))
    tg.select(col("train_source")).distinct()
      .crossJoin(eg.select(col("eval_source")).distinct())
      .join(hits, Seq("train_source", "eval_source"), "left")
      .select(col("train_source"), col("eval_source"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"))
      .orderBy(col("train_source"), col("eval_source"))
  }

  private val q230Sql =
    """WITH sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(t)-6),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |           || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS g
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 8),
      |tg AS (SELECT DISTINCT source AS train_source, unnest(g) AS g
      |       FROM sh WHERE doc_id % 7 <> 0),
      |eg AS (SELECT doc_id, source AS eval_source, unnest(g) AS g
      |       FROM sh WHERE doc_id % 7 = 0),
      |hits AS (
      |  SELECT train_source, eval_source,
      |    CAST(COUNT(DISTINCT eg.g) AS BIGINT) AS n_shared_grams,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs
      |  FROM eg JOIN tg ON eg.g = tg.g
      |  GROUP BY 1, 2)
      |SELECT t.train_source, e.eval_source,
      |  COALESCE(n_shared_grams, CAST(0 AS BIGINT)) AS n_shared_grams,
      |  COALESCE(n_contaminated_docs, CAST(0 AS BIGINT)) AS n_contaminated_docs
      |FROM (SELECT DISTINCT train_source FROM tg) t
      |CROSS JOIN (SELECT DISTINCT eval_source FROM eg) e
      |LEFT JOIN hits h
      |  ON h.train_source = t.train_source AND h.eval_source = e.eval_source
      |ORDER BY t.train_source, e.eval_source""".stripMargin

  // --------------------------------------------------------------- q232

  /** q232: POSITIONAL winnowing (Schleimer et al., "Winnowing: Local
    * Algorithms for Document Fingerprinting") — the plagiarism-detection
    * fingerprint q77's global bottom-k cannot give: slide a w=4 window
    * over the positional token-3-gram hash sequence, select each window's
    * RIGHTMOST MINIMUM hash, dedup selected positions per doc, then rank
    * document pairs by shared fingerprints. Winnowing guarantees any
    * shared run of ≥ w+2 grams yields a shared fingerprint (local
    * matches survive), at an expected density of 2/(w+1) — properties a
    * global sketch loses.
    *
    * The selection depends on hash VALUES, so both engines must hash
    * identically: grams hash through the md5-hex-prefix integer
    * (`conv(substr(md5(g),1,14),16,10)`, the q69 seed-free convention, 56
    * bits — positive, collision-safe at corpus scale), and the rightmost
    * minimum is a pure CASE over the window's four lead columns — no
    * frame semantics to diverge on.
    *
    * Scale: grams and leads are one doc-keyed window pass; fingerprints
    * shrink the sequence ~2/(w+1)×; the pair join keys on the 8-byte
    * fingerprint with the house df ≤ 256 cold-fingerprint cap bounding
    * hot-boilerplate fan-out (candidates over cold fingerprints only,
    * the q74/q175 discipline); top-20 is TakeOrderedAndProject.
    */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as(Seq("pos", "g")))
      .withColumn("h", Digest.bucket(col("g"), 1, 14))
    val fps = grams
      .withColumn("h1", lead(col("h"), 1).over(byDoc))
      .withColumn("h2", lead(col("h"), 2).over(byDoc))
      .withColumn("h3", lead(col("h"), 3).over(byDoc))
      .filter(col("h3").isNotNull) // full windows only
      .withColumn("mh", least(col("h"), col("h1"), col("h2"), col("h3")))
      .withColumn("fpos",
        when(col("h3") === col("mh"), col("pos") + 3)
          .when(col("h2") === col("mh"), col("pos") + 2)
          .when(col("h1") === col("mh"), col("pos") + 1)
          .otherwise(col("pos")))
      .select(col("doc_id"), col("fpos"), col("mh")).distinct()
    // hot-fingerprint cap: candidates only over fingerprints shared by
    // few docs (boilerplate fingerprints pair everything with everything)
    val cold = fps.select(col("doc_id"), col("mh")).distinct()
      .groupBy(col("mh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 256)
      .select(col("mh"))
    val docFp = fps.select(col("doc_id"), col("mh")).distinct()
      .join(cold, Seq("mh"))
    docFp.as("a").join(docFp.as("b"),
        col("a.mh") === col("b.mh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(desc("n_shared"), col("da"), col("db"))
      .limit(20)
  }

  private val q232Sql = {
    val h14 = graft.Exact.sqlHexToLong(
      "md5(t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3])", 1, 14)
    s"""WITH grams AS (
      |  SELECT doc_id, pos,
      |    CAST($h14 AS BIGINT) AS h
      |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS pos
      |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |        WHERE len(t) >= 3)),
      |leads AS (
      |  SELECT doc_id, pos, h,
      |    lead(h, 1) OVER w AS h1, lead(h, 2) OVER w AS h2,
      |    lead(h, 3) OVER w AS h3
      |  FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |fps AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN h3 = mh THEN pos + 3 WHEN h2 = mh THEN pos + 2
      |         WHEN h1 = mh THEN pos + 1 ELSE pos END AS fpos, mh
      |  FROM (SELECT *, LEAST(h, h1, h2, h3) AS mh FROM leads
      |        WHERE h3 IS NOT NULL)),
      |docfp0 AS (SELECT DISTINCT doc_id, mh FROM fps),
      |cold AS (SELECT mh FROM docfp0 GROUP BY mh HAVING COUNT(*) <= 256),
      |docfp AS (SELECT doc_id, mh FROM docfp0 JOIN cold USING (mh))
      |SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM docfp a JOIN docfp b ON a.mh = b.mh AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY n_shared DESC, da, db LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- q316

  /** q316: EPOCH RESHUFFLE + TOKEN-BALANCED SHARDING — the training-order
    * op every data loader needs: a seed-free pseudo-random permutation of
    * the corpus (`p = md5("ep1-" || doc_id)` — a new epoch tag is a new
    * permutation, reproducible across job restarts with no RNG state to
    * checkpoint), cut into 8 CONTIGUOUS shards of near-equal TOKEN mass:
    * `shard = ⌊cum_before · S / total⌋` over the running token sum in
    * permutation order. Equal-token (not equal-doc) shards are what keep
    * data-parallel training steps in lockstep when document lengths are
    * skewed. The report per shard: docs, tokens, the permutation-key span
    * (first/last — monotone across shards, proving contiguity), and the
    * integer-ppm deviation from the ideal `total/S` — the balance figure
    * a loader SLA reads.
    *
    * Scale: the global prefix sum is the DISTRIBUTED two-pass spelling
    * (q156's machinery): range-partition by the permutation key,
    * per-partition totals to the driver (one row per partition), offsets
    * broadcast back, running sums windowed WITHIN partitions — no
    * global-order window serializing the corpus through one task. The
    * oracle states the same semantics as one window.
    */
  private def q316(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val S = 8
    val parted = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("ep1-"), col("doc_id"))).as("p"),
        size(toks(col("text"))).cast(LongType).as("w"))
      .repartitionByRange(8, col("p"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pin partition ids for both consumers
    val partTotals = parted.groupBy(col("pid")).agg(sum(col("w")).as("pw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = partTotals.map(_._2).sum
    val offsets = partTotals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, pw)) => (pid, acc + pw) }
      .init.zip(partTotals)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("p"))
    parted
      .join(broadcast(offsets.toSeq.toDF("pid", "off")), "pid")
      .withColumn("cum", col("off") + sum(col("w")).over(win))
      .withColumn("shard", expr(s"(cum - w) * $S div ${total}L"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_tokens"),
        min(col("p")).as("first_key"), max(col("p")).as("last_key"))
      .withColumn("skew_ppm",
        expr(s"abs(n_tokens * $S - ${total}L) * 1000000 div ${total}L"))
      .orderBy(col("shard"))
  }

  private val q316Sql =
    """WITH t AS (
      |  SELECT doc_id, md5('ep1-' || doc_id) AS p,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM t),
      |c AS (SELECT p, w, CAST(SUM(w) OVER (ORDER BY p) AS BIGINT) AS cum FROM t),
      |g AS (SELECT ((cum - w) * 8) // total AS shard, p, w, total FROM c, tot)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS n_tokens,
      |  MIN(p) AS first_key, MAX(p) AS last_key,
      |  CAST(abs(SUM(w) * 8 - total) * 1000000 // total AS BIGINT) AS skew_ppm
      |FROM g GROUP BY shard, total ORDER BY shard""".stripMargin

  // --------------------------------------------------------------- q317

  /** q317: EXACT ROC-AUC — the evaluation op behind every filter-tuning
    * decision: how well does the q71 quality score separate a class
    * (here: English documents) per source? AUC is computed EXACTLY as the
    * normalized Mann–Whitney U statistic with midrank tie handling —
    * group by distinct score, a per-source running negative count, then
    * `U·2 = Σ pos_s·(2·negBelow_s + neg_s)` (the `+neg_s` term is the
    * ties-count-half rule with the /2 cleared), and
    * `auc_ppm = U2·500000 div (P·N)` — all integer arithmetic after the
    * score itself, which both engines derive bit-identically (q71/q312's
    * shared formula), so the AUC is hash-checked, not approximated. NULL
    * when a source lacks one of the classes (AUC undefined).
    *
    * Scale: the shuffle carries (source, score) partial counts — state is
    * O(distinct scores), never O(docs²) pair enumeration, and the window
    * is per-source over the collapsed score axis. This is how you compute
    * AUC over 10⁹ scored rows without sampling.
    */
  private def q317(s: SparkSession, d: String): DataFrame = {
    val scored = qualityFrame(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
        "doc_id")
    val byScore = scored.groupBy(col("source"), col("quality"))
      .agg(count(when(col("lang") === "en", 1)).as("pos"),
        count(when(col("lang") =!= "en", 1)).as("neg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"))
    byScore
      .withColumn("cumneg", sum(col("neg")).over(w) - col("neg"))
      .groupBy(col("source"))
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cumneg") + col("neg"))).as("u2"))
      .withColumn("auc_ppm",
        when(col("n_pos") * col("n_neg") > 0,
          expr("u2 * 500000 div (n_pos * n_neg)")))
      .orderBy(col("source"))
  }

  private val q317Sql =
    """WITH q AS (
      |  SELECT doc_id, lang, source,
      |    uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |      + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |  FROM (
      |    SELECT doc_id, lang, source, CAST(len(t) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio
      |    FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents))),
      |b AS (
      |  SELECT source, quality,
      |    CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS pos,
      |    CAST(COUNT(CASE WHEN lang <> 'en' THEN 1 END) AS BIGINT) AS neg
      |  FROM q GROUP BY 1, 2),
      |c AS (
      |  SELECT source, pos, neg,
      |    CAST(SUM(neg) OVER (PARTITION BY source ORDER BY quality) AS BIGINT)
      |      - neg AS cumneg
      |  FROM b)
      |SELECT source, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS u2,
      |  CASE WHEN SUM(pos) * SUM(neg) > 0 THEN
      |    CAST(SUM(pos * (2 * cumneg + neg)) * 500000 // (SUM(pos) * SUM(neg))
      |      AS BIGINT) END AS auc_ppm
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q333

  /** q333: QUALITY-SCORE CALIBRATION CURVE — the reliability diagram
    * completing q317's AUC: AUC says the score RANKS the class well,
    * calibration says whether the score's VALUE means what a threshold
    * assumes. The q71 score (bit-identical doubles in both engines, the
    * q301/q317 discipline) is cut into ten fixed bins; each bin reports
    * its population and the empirical positive rate under the same weak
    * label q317 uses (`lang = 'en'`), in exact ppm integers. Reading
    * the curve top-to-bottom is how a filter bar gets SET (q301 sweeps
    * tokens-vs-bar; this says what the bar's score actually buys in
    * label purity) — a non-monotone bin is the signal to recalibrate
    * before trusting any threshold.
    *
    * Scale: one scan, one ≤10-key partial agg — the report is O(bins)
    * at any corpus size.
    */
  private def q333(s: SparkSession, d: String): DataFrame = {
    qualityFrame(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .select(
        least(lit(9L), floor(col("quality") * 10).cast(LongType)).as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n_docs"))
      .orderBy(col("bin"))
  }

  private val q333Sql =
    """WITH q AS (
      |  SELECT doc_id, lang,
      |    uniq_ratio * 0.5 + (1.0 - stop_ratio) * 0.3
      |      + LEAST(CAST(n_tokens AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
      |  FROM (
      |    SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t) AS stop_ratio,
      |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio
      |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)))
      |SELECT LEAST(9, CAST(FLOOR(quality * 10) AS BIGINT)) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_pos,
      |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) * 1000000 // COUNT(*)
      |    AS BIGINT) AS pos_rate_ppm
      |FROM q GROUP BY 1 ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- q318

  /** q318: LSH PARAMETER TUNING — the measured S-curve you read BEFORE
    * running q75 at scale: for every (bands b × rows r) split of the
    * 16-minhash signature ((16,1),(8,2),(4,4),(2,8)), the fraction of
    * pairs that become LSH candidates (≥1 equal band), bucketed by their
    * TRUE Jaccard decile. More rows per band sharpens the threshold, more
    * bands raises recall — this table is that tradeoff measured with the
    * corpus's own shingle machinery, not the textbook 1−(1−j^r)^b curve.
    * Ground truth needs exact pairwise Jaccard, so it runs on a
    * SIZE-BOUNDED calibration set: the 32 docs with the smallest
    * `md5("tune-"||doc_id)` (a TakeOrdered at any corpus size), paired
    * (a) against each other — natural pairs, the curve's non-dup mass —
    * and (b) against CONTROLLED-DISTORTION TWINS (every k-th token
    * dropped, k ∈ {2..24}), the standard calibration trick that sweeps
    * true Jaccard across the deciles where the S-curve actually bends.
    * Signatures are q75's exact machinery (md5-split h1/h2, 16 linear
    * permutations), so the tuning verdict transfers directly to the
    * production dedup run.
    *
    * Scale: corpus-sized work is one token scan + TakeOrdered(32);
    * everything after is constant-bounded (496 + ≤256 pairs × 4
    * configs). All-integer collision flags and `ppm = cand·10⁶ div
    * pairs`, so the whole curve is hash-checked.
    */
  /** Minhash signature (q75's 16 linear permutations) for any
    * (keys, shingles) frame — shared by q318's original and twin sides.
    */
  private def minhashSig(df: DataFrame, keys: Seq[String]): DataFrame = {
    val hashed = df
      .select(keys.map(col) :+ explode(col("shingles")).as("x"): _*)
      .select(keys.map(col) ++ Seq(
        Digest.bucket(col("x"), 1, 7).as("h1"),
        Digest.bucket(col("x"), 9, 7).as("h2")): _*)
    val mins = (0 until 16).map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    hashed.groupBy(keys.map(col): _*).agg(mins.head, mins.tail: _*)
      .select(keys.map(col) :+
        array((0 until 16).map(i => col(s"m$i")): _*).as("sig"): _*)
  }

  private def q318(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val shingleOf = (t: String) => s"array_distinct(transform(sequence(0, size($t)-3), " +
      s"i -> concat_ws(' ', $t[i], $t[i+1], $t[i+2])))"
    val base = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .orderBy(md5(concat(lit("tune-"), col("doc_id"))), col("doc_id"))
      .limit(32)
      .localCheckpoint() // one corpus scan; everything after is 32-doc-bounded
    val orig = base.select(col("doc_id"), expr(shingleOf("t")).as("shingles"))
    val twins = base
      .crossJoin(broadcast(Seq(2, 3, 4, 6, 8, 12, 16, 24).toDF("k")))
      .withColumn("t2", expr(
        "transform(filter(sequence(1, size(t)), i -> i % k != 0), i -> element_at(t, i))"))
      .filter(size(col("t2")) >= 3)
      .select(col("doc_id"), col("k"), expr(shingleOf("t2")).as("shingles"))
    val sigO = minhashSig(orig, Seq("doc_id")).join(orig, "doc_id")
    val sigT = minhashSig(twins, Seq("doc_id", "k")).join(twins, Seq("doc_id", "k"))
    // pair set 1: originals × originals (the non-dup mass of the curve);
    // pair set 2: each original × its controlled-distortion twins (the
    // mid/high-Jaccard probes)
    val cross = sigO.select(col("doc_id").as("da"), col("sig").as("siga"),
        col("shingles").as("sa"))
      .join(sigO.select(col("doc_id").as("db"), col("sig").as("sigb"),
        col("shingles").as("sb")), col("da") < col("db"))
      .select(col("siga"), col("sa"), col("sigb"), col("sb"))
    val probes = sigO.select(col("doc_id"), col("sig").as("siga"),
        col("shingles").as("sa"))
      .join(sigT.select(col("doc_id"), col("sig").as("sigb"),
        col("shingles").as("sb")), "doc_id")
      .select(col("siga"), col("sa"), col("sigb"), col("sb"))
    val cfgs = Seq((16, 1), (8, 2), (4, 4), (2, 8)).toDF("bands", "rows_per_band")
    cross.unionByName(probes)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac_decile",
        expr("CAST(10 * inter div (size(sa) + size(sb) - inter) AS BIGINT)"))
      .crossJoin(broadcast(cfgs))
      .withColumn("hit", expr(
        """exists(sequence(0, bands - 1), i ->
          |  slice(siga, i * rows_per_band + 1, rows_per_band)
          |    == slice(sigb, i * rows_per_band + 1, rows_per_band))""".stripMargin))
      .groupBy(col("bands"), col("rows_per_band"), col("jac_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("hit"), 1)).as("n_cand"))
      .withColumn("cand_ppm", expr("n_cand * 1000000 div n_pairs"))
      .orderBy(col("bands"), col("rows_per_band"), col("jac_decile"))
  }

  private val q318Sql = {
    def hex7(off: Int) = Exact.sqlHexToLong("hh", off, 7)
    val mins = (0 until 16).map(i => s"MIN(h1 + $i * h2)").mkString(", ")
    def shingleOf(t: String) =
      s"list_distinct(list_transform(range(1, len($t)-1), " +
        s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]))"
    s"""WITH base AS (
       |  SELECT doc_id, t FROM (
       |    SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |  WHERE len(t) >= 3
       |  ORDER BY md5('tune-' || doc_id), doc_id LIMIT 32),
       |orig AS (SELECT doc_id, ${shingleOf("t")} AS shingles FROM base),
       |twins AS (
       |  SELECT doc_id, k, ${shingleOf("t2")} AS shingles FROM (
       |    SELECT doc_id, k,
       |      list_transform(list_filter(range(1, len(t)+1), i -> i % k != 0),
       |        i -> t[i]) AS t2
       |    FROM base CROSS JOIN (SELECT unnest([2,3,4,6,8,12,16,24]) AS k))
       |  WHERE len(t2) >= 3),
       |hashO AS (
       |  SELECT doc_id, CAST(${hex7(1)} AS BIGINT) AS h1,
       |    CAST(${hex7(9)} AS BIGINT) AS h2
       |  FROM (SELECT doc_id, md5(unnest(shingles)) AS hh FROM orig)),
       |sigO AS (SELECT doc_id, [$mins] AS sig FROM hashO GROUP BY doc_id),
       |hashT AS (
       |  SELECT doc_id, k, CAST(${hex7(1)} AS BIGINT) AS h1,
       |    CAST(${hex7(9)} AS BIGINT) AS h2
       |  FROM (SELECT doc_id, k, md5(unnest(shingles)) AS hh FROM twins)),
       |sigT AS (SELECT doc_id, k, [$mins] AS sig FROM hashT GROUP BY doc_id, k),
       |docsO AS (SELECT o.doc_id, sig, shingles FROM sigO s
       |          JOIN orig o ON o.doc_id = s.doc_id),
       |docsT AS (SELECT tw.doc_id, tw.k, sig, shingles FROM sigT s
       |          JOIN twins tw ON tw.doc_id = s.doc_id AND tw.k = s.k),
       |pairs AS (
       |  SELECT a.sig AS siga, a.shingles AS sa, b.sig AS sigb, b.shingles AS sb
       |  FROM docsO a JOIN docsO b ON a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.sig, a.shingles, b.sig, b.shingles
       |  FROM docsO a JOIN docsT b ON a.doc_id = b.doc_id),
       |jp AS (
       |  SELECT siga, sigb,
       |    len(list_filter(sa, x -> list_contains(sb, x))) AS inter,
       |    len(sa) + len(sb)
       |      - len(list_filter(sa, x -> list_contains(sb, x))) AS uni
       |  FROM pairs),
       |cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8))
       |        AS t(bands, rows_per_band)),
       |flags AS (
       |  SELECT bands, rows_per_band,
       |    CAST(10 * inter // uni AS BIGINT) AS jac_decile,
       |    len(list_filter(range(bands), i ->
       |      siga[i * rows_per_band + 1 : i * rows_per_band + rows_per_band]
       |        = sigb[i * rows_per_band + 1 : i * rows_per_band + rows_per_band])) > 0
       |      AS hit
       |  FROM jp CROSS JOIN cfg)
       |SELECT CAST(bands AS INT) AS bands,
       |  CAST(rows_per_band AS INT) AS rows_per_band, jac_decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(COUNT(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_cand,
       |  CAST(COUNT(CASE WHEN hit THEN 1 END) * 1000000 // COUNT(*) AS BIGINT)
       |    AS cand_ppm
       |FROM flags GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // --------------------------------------------------------------- q368

  /** q368: TAXONOMY DICTIONARY TAGGING — the keyword-dictionary domain
    * labeler a mixing pipeline runs when no classifier exists yet (the
    * FlashText/gazetteer pattern; complements q352's embedding centroid
    * classifier and q66's character-n-gram language ID — three rungs of
    * the same curation ladder): a 12-keyword, 3-topic taxonomy broadcasts
    * against the exploded token stream, per-document topic histograms
    * fold in one keyed aggregate, and the DOMINANT topic is the
    * lexicographic max of a (count, −topic-code) struct — no per-group
    * sort, no window buffer (q343's discipline), ties broken by the
    * dictionary's own topic precedence so the label is deterministic on
    * any engine. Unmatched documents surface as 'untagged' (curation
    * needs the residue measured, not dropped — the q310 funnel
    * discipline); the (lang, topic) rollup carries dominant-hit and
    * total-hit masses so a tagger that over- or under-counts any
    * keyword hash-mismatches.
    *
    * Scale: tokens shuffle ONCE keyed by (doc, topic) with map-side
    * combine; the dictionary (O(keywords)) broadcasts; full text never
    * shuffles. Tagging 10⁹ documents is one scan + two combinable
    * aggregates — the same plan at any corpus size.
    */
  private def q368(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dict = Seq(
      ("table", "storage", 1), ("scan", "storage", 1),
      ("column", "storage", 1), ("row", "storage", 1),
      ("join", "exec", 2), ("hash", "exec", 2),
      ("merge", "exec", 2), ("sort", "exec", 2),
      ("stream", "streaming", 3), ("window", "streaming", 3),
      ("batch", "streaming", 3), ("agg", "streaming", 3)
    ).toDF("tok", "topic", "code")
    val docs = Tables.documents(s, d)
    val hits = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .join(broadcast(dict), Seq("tok"))
      .groupBy(col("doc_id"), col("topic"), col("code"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = hits.groupBy(col("doc_id"))
      .agg(max(struct(col("cnt"), (-col("code")).as("nc"),
        col("topic"))).as("w"),
        sum(col("cnt")).as("all_hits"))
      .select(col("doc_id"), col("w.topic").as("topic"),
        col("w.cnt").as("dom_hits"), col("all_hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("lang"),
        coalesce(col("topic"), lit("untagged")).as("topic"),
        coalesce(col("dom_hits"), lit(0L)).as("dh"),
        coalesce(col("all_hits"), lit(0L)).as("ah"))
      .groupBy(col("lang"), col("topic"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dh")).as("dom_hits"),
        sum(col("ah")).as("all_hits"))
      .orderBy(col("lang"), col("topic"))
  }

  private val q368Sql =
    """WITH dict(tok, topic, code) AS (VALUES
      |  ('table','storage',1), ('scan','storage',1),
      |  ('column','storage',1), ('row','storage',1),
      |  ('join','exec',2), ('hash','exec',2),
      |  ('merge','exec',2), ('sort','exec',2),
      |  ('stream','streaming',3), ('window','streaming',3),
      |  ('batch','streaming',3), ('agg','streaming',3)),
      |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |       FROM documents),
      |h AS (SELECT t.doc_id, d.topic, d.code, COUNT(*) AS cnt
      |      FROM tk t JOIN dict d ON t.tok = d.tok GROUP BY 1, 2, 3),
      |w AS (SELECT doc_id, topic, cnt,
      |        SUM(cnt) OVER (PARTITION BY doc_id) AS all_hits,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id
      |          ORDER BY cnt DESC, code ASC) AS rk
      |      FROM h),
      |p AS (SELECT doc_id, topic, cnt AS dom_hits, all_hits
      |      FROM w WHERE rk = 1)
      |SELECT d.lang, COALESCE(p.topic, 'untagged') AS topic,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(COALESCE(p.dom_hits, 0)) AS BIGINT) AS dom_hits,
      |  CAST(SUM(COALESCE(p.all_hits, 0)) AS BIGINT) AS all_hits
      |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q381

  /** q381: TOKENIZER FERTILITY — pieces emitted per whitespace word, THE
    * cross-lingual tokenizer-quality metric (a fertility of 2.4 means a
    * language pays 2.4× the sequence length per word; SentencePiece
    * evals and multilingual-vocab papers report exactly this, e.g. Rust
    * et al. 2021, "How Good is Your Tokenizer?"). Words are q70's
    * whitespace count, pieces its BPE-ish lexer count; per (lang,
    * source): exact integer totals, fertility in ppm (`pieces·10⁶ div
    * words`), and the share of documents whose fertility exceeds 3 —
    * the "this language is under-served by the vocab" alarm — as an
    * exact ppm too.
    *
    * Scale: two codegen'd counters per row, one keyed combinable
    * aggregate — fertility over 10⁹ documents is a single pass with
    * (lang × source) cells of state.
    */
  private def q381(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(toks(col("text"))).cast(LongType).as("w"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast(LongType).as("p"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("words"), sum(col("p")).as("pieces"),
        sum(when(expr("p * 1000000 div w") > 3000000L, 1L).otherwise(0L))
          .as("high_fertility_docs"))
      .withColumn("fertility_ppm", expr("pieces * 1000000 div words"))
      .withColumn("high_share_ppm",
        expr("high_fertility_docs * 1000000 div n_docs"))
      .orderBy(col("lang"), col("source"))

  private val q381Sql =
    """WITH t AS (
      |  SELECT lang, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
      |      AS BIGINT) AS p
      |  FROM documents)
      |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(p) AS BIGINT) AS pieces,
      |  CAST(SUM(CASE WHEN p * 1000000 // w > 3000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS high_fertility_docs,
      |  CAST(SUM(p) AS BIGINT) * 1000000 // CAST(SUM(w) AS BIGINT)
      |    AS fertility_ppm,
      |  CAST(SUM(CASE WHEN p * 1000000 // w > 3000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS high_share_ppm
      |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- q376

  /** q376: PASS@K — the eval-harness headline number, computed the
    * unbiased way: per task, `n` sampled attempts of which `c` pass, and
    * pass@k = 1 − C(n−c,k)/C(n,k), the probability that a random size-k
    * draw contains at least one passing attempt (Chen et al. 2021,
    * "Evaluating Large Language Models Trained on Code", the HumanEval
    * estimator — the naive (c/n)^k-style plug-ins are biased). The
    * binomial ratio telescopes to Π_{i<k} (n−c−i)/(n−i): five exact-
    * integer-derived double factors multiplied in one fixed left-
    * associative order, so both engines produce bit-identical doubles;
    * n−c < k short-circuits to exactly 1. Events stand in for the eval
    * log (task = user_id, attempt = event, pass = value > 400).
    *
    * Scale: per task the state is TWO counters — pass@k over a billion
    * sampled generations is one map-side-combinable aggregate pass, no
    * per-attempt data ever crosses the shuffle.
    */
  private def q376(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val prod = (0 until k).map(i =>
      (col("n") - col("c") - i).cast(DoubleType) /
        (col("n") - i).cast(DoubleType)).reduce(_ * _)
    Tables.events(s, d)
      .select(col("user_id").as("task_id"),
        (col("value") > 400.0).cast("long").as("ok"))
      .groupBy(col("task_id"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("c"))
      .filter(col("n") >= k)
      .withColumn("pass_at_5",
        when(col("n") - col("c") < k, lit(1.0)).otherwise(lit(1.0) - prod))
      .orderBy(col("task_id"))
  }

  private val q376Sql =
    """WITH g AS (
      |  SELECT user_id AS task_id, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(*) FILTER (WHERE value > 400.0) AS BIGINT) AS c
      |  FROM events GROUP BY 1)
      |SELECT task_id, n, c,
      |  CASE WHEN n - c < 5 THEN CAST(1 AS DOUBLE)
      |    ELSE CAST(1 AS DOUBLE) -
      |      (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE))
      |    * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |    * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
      |    * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
      |    * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE))
      |  END AS pass_at_5
      |FROM g WHERE n >= 5 ORDER BY task_id""".stripMargin

  // --------------------------------------------------------------- q377

  /** q377: POISSON-BOOTSTRAP CONFIDENCE BAND — uncertainty for a metric
    * over data too big to resample: instead of drawing n-row resamples
    * (which needs global coordination), each row independently receives
    * a Poisson(1)-distributed multiplicity per replicate — the streaming
    * bootstrap of Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams" (Google TR, 2012). Multiplicities here are DERIVED,
    * not random: two md5 hex digits of (replicate, event_id) → a value
    * in [0,256) quantized at {94,188,235} to weights {0,1,2,3}
    * (probabilities .367/.367/.184/.082 vs Poisson(1)'s
    * .368/.368/.184/.081) — deterministic, seedable, and identically
    * computable by the DuckDB oracle via the shared hex-parse helper
    * ([[Exact.sqlHexToLong]]). Per event type: the point-estimate mean
    * (exact decimal sum, one double division) and the min/max envelope
    * of B=32 replicate means (order-independent double extremes — no
    * cross-engine float summation anywhere).
    *
    * Scale: the 32× row expansion is map-side combinable into
    * (type, replicate) partials — 32·|types| cells of state, ZERO extra
    * shuffle volume relative to the un-bootstrapped mean; the classical
    * resample would shuffle 32 full copies.
    */
  private def q377(s: SparkSession, d: String): DataFrame = {
    // Fused one-exchange spelling (r15, guide §4 + §2.4): the 32 replicate
    // weights are a pure function of event_id, computed by the native
    // graft_bootweights kernel (bit-identical to the explode →
    // conv(substring(md5(concat_ws))) → CASE pipeline — TextKernelsSpec),
    // and the per-(type, replicate) means collapse into ONE
    // groupBy(event_type) carrying 32 (Σ v·w_b, Σ w_b) pairs — no 32× row
    // expansion, no second aggregation, no join. Each m_b is the identical
    // decimal-sum-cast-double division, so min/max over the 32 values are
    // bit-equal to the old per-(type,b) aggregate (array_min/max skip null
    // means exactly like MIN/MAX; n_replicates was count of the always-full
    // b ∈ [0,32) explode, a constant). TextOpsSpec pins new ≡ old spelling.
    val B = 32
    val e = Tables.events(s, d)
      .select(col("event_type"), Exact.money(col("value")).as("v"),
        expr("graft_bootweights(CAST(event_id AS STRING))").as("ws"))
    val sums = (0 until B).flatMap { b =>
      Seq(sum(col("v") * element_at(col("ws"), b + 1)).as(s"vw$b"),
        sum(element_at(col("ws"), b + 1)).as(s"sw$b"))
    }
    val ms = array((0 until B).map(b =>
      col(s"vw$b").cast(DoubleType) / col(s"sw$b")): _*)
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sums :+ sum(col("v")).as("sv")): _*)
      .select(col("event_type"), col("n_events"),
        (col("sv").cast(DoubleType) / col("n_events")).as("mean_value"),
        lit(B.toLong).as("n_replicates"),
        array_min(ms).as("lo_mean"), array_max(ms).as("hi_mean"))
      .orderBy(col("event_type"))
  }

  private val q377Sql = {
    val h = Exact.sqlHexToLong(
      "md5(concat_ws('|', 'boot', b, event_id))", 1, 2)
    s"""WITH e AS (
       |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,2)) AS v
       |  FROM events),
       |rep AS (
       |  SELECT event_type, b, v,
       |    CASE WHEN h < 94 THEN 0 WHEN h < 188 THEN 1
       |         WHEN h < 235 THEN 2 ELSE 3 END AS w
       |  FROM (SELECT e.*, r.b, $h AS h
       |        FROM e CROSS JOIN
       |          (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS b) r)),
       |means AS (
       |  SELECT event_type, b,
       |    CAST(SUM(v * w) AS DOUBLE) / CAST(SUM(w) AS BIGINT) AS m
       |  FROM rep GROUP BY 1, 2),
       |ci AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_replicates,
       |    MIN(m) AS lo_mean, MAX(m) AS hi_mean
       |  FROM means GROUP BY 1)
       |SELECT e2.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_value,
       |  ANY_VALUE(n_replicates) AS n_replicates,
       |  ANY_VALUE(lo_mean) AS lo_mean, ANY_VALUE(hi_mean) AS hi_mean
       |FROM e e2 JOIN ci ON e2.event_type = ci.event_type
       |GROUP BY e2.event_type ORDER BY e2.event_type""".stripMargin
  }

  // --------------------------------------------------------------- q386

  /** q386: INTRA-DOCUMENT REPETITION RULES — the Gopher quality-filter
    * family (Rae et al. 2021, "Scaling Language Models: Methods, Analysis
    * & Insights from Training Gopher", Table A1): reject a document when
    * its most frequent 2-gram covers > 20% of tokens, its most frequent
    * 3-gram covers > 18%, or > 15% of its 5-grams are duplicates. Where
    * q336 strips CROSS-document boilerplate and q71 scores surface
    * quality, these rules catch WITHIN-document degeneracy (loops,
    * keyword stuffing, templated spam) — the filter every pretraining
    * corpus runs before tokenization. Each threshold is evaluated in
    * integer cross-multiplied form (top2·10 > n ⇔ 2·top2/n > 1/5), so no
    * float ever exists and the per-source rollup is exact.
    *
    * Scale: the two mode computations shuffle (doc_id, gram)-keyed COUNTS
    * with map-side combine — never text; the 5-gram duplicate fraction is
    * a pure array expression (zero shuffle); the per-doc joins are 1:1 on
    * doc_id. Everything downstream is an O(#sources) rollup.
    */
  private def q386(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("source"), col("t"),
        size(col("t")).cast(LongType).as("n"))
    def topGram(n: Int, out: String): DataFrame =
      docs.select(col("doc_id"),
          explode(expr(s"transform(sequence(0, size(t) - $n), " +
            s"i -> concat_ws(' ', slice(t, i + 1, $n)))")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as(out))
    docs
      .withColumn("tot5", col("n") - 4)
      .withColumn("dist5", size(array_distinct(expr(
        "transform(sequence(0, size(t) - 5), " +
          "i -> concat_ws(' ', slice(t, i + 1, 5)))"))).cast(LongType))
      .join(topGram(2, "top2"), Seq("doc_id"))
      .join(topGram(3, "top3"), Seq("doc_id"))
      .select(col("source"),
        (col("top2") * 10 > col("n")).cast(LongType).as("f2"),
        (col("top3") * 150 > col("n") * 9).cast(LongType).as("f3"),
        ((col("tot5") - col("dist5")) * 20 > col("tot5") * 3)
          .cast(LongType).as("f5"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f2")).as("fail_top2"),
        sum(col("f3")).as("fail_top3"),
        sum(col("f5")).as("fail_dup5"),
        sum(when(col("f2") + col("f3") + col("f5") === 0, 1L)
          .otherwise(0L)).as("clean"))
      .orderBy(col("source"))
  }

  private val q386Sql =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |base AS (
      |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n,
      |    CAST(len(t) - 4 AS BIGINT) AS tot5,
      |    CAST(len(list_distinct([array_to_string(t[i+1:i+5], ' ')
      |      FOR i IN range(len(t) - 4)])) AS BIGINT) AS dist5
      |  FROM d),
      |g2 AS (
      |  SELECT doc_id, MAX(c) AS top2 FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest([array_to_string(t[i+1:i+2], ' ')
      |        FOR i IN range(len(t) - 1)]) AS g FROM d)
      |    GROUP BY doc_id, g) GROUP BY doc_id),
      |g3 AS (
      |  SELECT doc_id, MAX(c) AS top3 FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest([array_to_string(t[i+1:i+3], ' ')
      |        FOR i IN range(len(t) - 2)]) AS g FROM d)
      |    GROUP BY doc_id, g) GROUP BY doc_id),
      |per AS (
      |  SELECT base.source,
      |    CASE WHEN top2 * 10 > n THEN 1 ELSE 0 END AS f2,
      |    CASE WHEN top3 * 150 > n * 9 THEN 1 ELSE 0 END AS f3,
      |    CASE WHEN (tot5 - dist5) * 20 > tot5 * 3 THEN 1 ELSE 0 END AS f5
      |  FROM base JOIN g2 USING (doc_id) JOIN g3 USING (doc_id))
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(f2) AS BIGINT) AS fail_top2,
      |  CAST(SUM(f3) AS BIGINT) AS fail_top3,
      |  CAST(SUM(f5) AS BIGINT) AS fail_dup5,
      |  CAST(SUM(CASE WHEN f2 + f3 + f5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS clean
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q387

  /** q387: CORPUS BLEU SUFFICIENT STATISTICS — machine-translation /
    * generation eval at corpus scale (Papineni et al. 2002, "BLEU: a
    * Method for Automatic Evaluation of Machine Translation"). The
    * candidate is a deterministic distortion of the reference (every 7th
    * token dropped — a fixed, engine-replayable "system output"), and the
    * query emits BLEU's sufficient statistics per order n ∈ 1..4: clipped
    * n-gram matches Σ_g min(cnt_cand, cnt_ref), total candidate n-grams,
    * the modified precision p_n (ONE double division of two exact longs),
    * and the corpus candidate/reference lengths that feed the brevity
    * penalty. Emitting the mergeable statistics rather than the final
    * geometric mean is the 100 TB shape: partial (matches, totals) from
    * every shard combine exactly; exp/log happen once, driver-side, on
    * four numbers.
    *
    * Scale: gram counting shuffles (doc_id, n, gram)-keyed COUNTS with
    * map-side combine; the clip join is 1:1 on that same key (no
    * re-partition — same key, Catalyst reuses the exchange); corpus
    * totals are O(4) rows. Candidate text never materializes — it is an
    * index-filtered array view of the reference tokens.
    */
  private def q387(s: SparkSession, d: String): DataFrame = {
    // Fused one-pass spelling (r15, guide §4 + §2.4): the per-document
    // clipped n-gram matches are a pure function of (c, r), computed by the
    // native graft_bleu_clip kernel (bit-identical to the per-n gram
    // explode → per-(doc,n,g) counts → inner join → Σ least —
    // TextKernelsSpec), so the whole query collapses to one projection and
    // ONE single-row aggregation: Σ clipped_n, Σ max(|c|−n+1, 0), Σ|c|, Σ|r|
    // — no gram shuffle, no (doc,n,g) join, no per-n totals exchange. The
    // 4 output rows are rebuilt by an explode of the constant n sequence.
    // TextOpsSpec pins new ≡ old spelling.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("r"))
      .withColumn("c", expr("filter(r, (x, i) -> (i + 1) % 7 != 0)"))
      .select(expr("graft_bleu_clip(c, r)").as("cl"),
        size(col("c")).cast(LongType).as("nc"),
        size(col("r")).cast(LongType).as("nr"))
    val aggs = (1 to 4).flatMap { n =>
      Seq(sum(element_at(col("cl"), n)).as(s"clip$n"),
        sum(greatest(col("nc") - lit(n.toLong) + 1, lit(0L))).as(s"tot$n"))
    } ++ Seq(sum(col("nc")).as("cand_tokens"), sum(col("nr")).as("ref_tokens"))
    docs.agg(aggs.head, aggs.tail: _*)
      .select(explode(expr("sequence(1L, 4L)")).as("n"),
        array((1 to 4).map(n => col(s"clip$n")): _*).as("cls"),
        array((1 to 4).map(n => col(s"tot$n")): _*).as("tots"),
        col("cand_tokens"), col("ref_tokens"))
      .select(col("n"),
        coalesce(element_at(col("cls"), col("n").cast("int")), lit(0L)).as("clipped"),
        element_at(col("tots"), col("n").cast("int")).as("total"),
        col("cand_tokens"), col("ref_tokens"))
      .select(col("n"), col("clipped"), col("total"),
        (col("clipped").cast(DoubleType) / col("total").cast(DoubleType))
          .as("prec_n"),
        col("cand_tokens"), col("ref_tokens"))
      .orderBy(col("n"))
  }

  private val q387Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS r FROM documents),
      |cd AS (
      |  SELECT doc_id, r,
      |    [r[i+1] FOR i IN range(len(r)) IF (i+1) % 7 <> 0] AS c
      |  FROM d),
      |byn AS (
      |  SELECT doc_id, c, r, CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS n
      |  FROM cd),
      |cg AS (
      |  SELECT doc_id, n,
      |    unnest([array_to_string(c[i+1:i+CAST(n AS INT)], ' ')
      |      FOR i IN range(len(c) - CAST(n AS INT) + 1)]) AS g
      |  FROM byn WHERE len(c) >= n),
      |rg AS (
      |  SELECT doc_id, n,
      |    unnest([array_to_string(r[i+1:i+CAST(n AS INT)], ' ')
      |      FOR i IN range(len(r) - CAST(n AS INT) + 1)]) AS g
      |  FROM byn WHERE len(r) >= n),
      |cc AS (SELECT doc_id, n, g, COUNT(*) AS cc FROM cg GROUP BY 1, 2, 3),
      |rr AS (SELECT doc_id, n, g, COUNT(*) AS cr FROM rg GROUP BY 1, 2, 3),
      |clip AS (
      |  SELECT n, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clipped
      |  FROM cc JOIN rr USING (doc_id, n, g) GROUP BY n),
      |tot AS (
      |  SELECT n, CAST(SUM(GREATEST(len(c) - n + 1, 0)) AS BIGINT) AS total
      |  FROM byn GROUP BY n),
      |lens AS (
      |  SELECT CAST(SUM(len(c)) AS BIGINT) AS cand_tokens,
      |    CAST(SUM(len(r)) AS BIGINT) AS ref_tokens FROM cd)
      |SELECT t.n, COALESCE(clipped, 0) AS clipped, total,
      |  CAST(COALESCE(clipped, 0) AS DOUBLE) / CAST(total AS DOUBLE)
      |    AS prec_n,
      |  cand_tokens, ref_tokens
      |FROM tot t LEFT JOIN clip USING (n) CROSS JOIN lens ORDER BY t.n""".stripMargin

  // --------------------------------------------------------------- q389

  /** q389: KRIPPENDORFF'S ALPHA — the general inter-rater reliability
    * coefficient (Krippendorff, "Content Analysis", 2004; nominal case),
    * complementing q342's two-rater Cohen's kappa: alpha handles ANY
    * number of raters, missing ratings, and per-unit rating counts —
    * the shape real labeling campaigns produce. Events stand in for the
    * label log (unit = event_id mod 97, nominal label from value
    * terciles). All coincidence-matrix mass is exact integers:
    * per unit u, m_u ratings and within-unit disagreeing ordered pairs
    * d_u = m_u² − Σ_c n_uc²; α = 1 − (n−1)·S / (n² − Σ_c n_c²) with
    * S = Σ_u d_u/(m_u−1). The ONLY non-integer, S, is computed as an
    * explicit left fold over the ≤ |units| distinct (m, Σd) pairs in
    * ascending-m order (array_sort + aggregate here, list_sort +
    * list_reduce in the oracle) — identical association order, so the
    * double matches bit-for-bit.
    *
    * Scale: two keyed combinable aggregates (unit×label, then unit);
    * the fold input is O(distinct m) ≤ O(units mod base) rows collected
    * AFTER full aggregation — bounded by the unit-key modulus, never by
    * data volume. A billion ratings cost one (unit,label)-keyed shuffle.
    */
  private def q389(s: SparkSession, d: String): DataFrame = {
    val rated = Tables.events(s, d).select(
      (col("event_id") % 97).as("unit"),
      when(col("value") < 150.0, "lo").when(col("value") < 300.0, "mid")
        .otherwise("hi").as("label"))
    val uc = rated.groupBy(col("unit"), col("label"))
      .agg(count(lit(1)).as("nuc"))
    val units = uc.groupBy(col("unit"))
      .agg(sum(col("nuc")).as("m"),
        sum(col("nuc") * col("nuc")).as("s2"))
      .filter(col("m") >= 2)
      .withColumn("d", col("m") * col("m") - col("s2"))
    val sFold = units.groupBy(col("m")).agg(sum(col("d")).as("dm"))
      .agg(expr("aggregate(" +
        "array_sort(collect_list(named_struct('m', m, 'dm', dm))), " +
        "CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> acc + CAST(x.dm AS DOUBLE) / CAST(x.m - 1 AS DOUBLE))")
        .as("s_do"))
    val lab = uc.join(units.select(col("unit")), Seq("unit"))
      .groupBy(col("label")).agg(sum(col("nuc")).as("nc"))
    val tot = lab.agg(sum(col("nc")).as("n"),
      sum(col("nc") * col("nc")).as("sumc2"))
    val nunits = units.agg(count(lit(1)).as("n_units"))
    nunits.crossJoin(broadcast(tot)).crossJoin(broadcast(sFold))
      .select(col("n_units"), col("n").as("n_coincidences"),
        col("sumc2"), col("s_do"),
        (lit(1.0) - ((col("n") - 1).cast(DoubleType) * col("s_do")) /
          (col("n") * col("n") - col("sumc2")).cast(DoubleType))
          .as("alpha"))
  }

  private val q389Sql =
    """WITH rated AS (
      |  SELECT event_id % 97 AS unit,
      |    CASE WHEN value < 150.0 THEN 'lo'
      |         WHEN value < 300.0 THEN 'mid' ELSE 'hi' END AS label
      |  FROM events),
      |uc AS (
      |  SELECT unit, label, CAST(COUNT(*) AS BIGINT) AS nuc
      |  FROM rated GROUP BY 1, 2),
      |units AS (
      |  SELECT unit, CAST(SUM(nuc) AS BIGINT) AS m,
      |    CAST(SUM(nuc * nuc) AS BIGINT) AS s2
      |  FROM uc GROUP BY unit HAVING SUM(nuc) >= 2),
      |ud AS (SELECT unit, m, m * m - s2 AS d FROM units),
      |perm AS (
      |  SELECT m, CAST(SUM(d) AS BIGINT) AS dm FROM ud GROUP BY m),
      |fold AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    [CAST(x.dm AS DOUBLE) / CAST(x.m - 1 AS DOUBLE)
      |     FOR x IN list_sort(list({'m': m, 'dm': dm}))]),
      |    (a, b) -> a + b) AS s_do
      |  FROM perm),
      |lab AS (
      |  SELECT label, CAST(SUM(nuc) AS BIGINT) AS nc
      |  FROM uc JOIN units USING (unit) GROUP BY label),
      |tot AS (
      |  SELECT CAST(SUM(nc) AS BIGINT) AS n,
      |    CAST(SUM(nc * nc) AS BIGINT) AS sumc2 FROM lab),
      |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units FROM units)
      |SELECT n_units, n AS n_coincidences, sumc2, s_do,
      |  1.0 - (CAST(n - 1 AS DOUBLE) * s_do) /
      |    CAST(n * n - sumc2 AS DOUBLE) AS alpha
      |FROM nu CROSS JOIN tot CROSS JOIN fold""".stripMargin

  // --------------------------------------------------------------- q396

  /** Shared CUPED/z-test formula texts — interpolated verbatim into BOTH
    * the Spark `selectExpr` and the DuckDB oracle, so the double
    * arithmetic cannot drift between engines by construction. */
  private val cupedFormulas = Seq(
    "CAST(n AS BIGINT) AS n_users",
    "CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - " +
      "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS var_x",
    "CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - " +
      "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS var_y",
    "CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - " +
      "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
      "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov_xy")
  private val cupedDerived = Seq(
    "n_users", "var_x", "var_y", "cov_xy",
    // a degenerate period (zero-variance metric) leaves the adjustment
    // undefined: NULL, not a divide-by-zero crash
    "CASE WHEN var_x = 0.0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE cov_xy / var_x END AS theta",
    "CASE WHEN var_x = 0.0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE var_y - (cov_xy * cov_xy) / var_x END AS var_cuped",
    "CASE WHEN var_x = 0.0 OR var_y = 0.0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE (cov_xy * cov_xy) / (var_x * var_y) END AS rho2")

  /** q396: CUPED VARIANCE REDUCTION — the pre-experiment-data adjustment
    * every large experimentation platform applies before reading an A/B
    * test (Deng, Xu, Kohavi & Walker 2013, "Improving the Sensitivity of
    * Online Controlled Experiments"): with X a user's PRE-period metric
    * and Y the in-experiment metric, Y_cv = Y − θ(X − E[X]) with
    * θ = Cov(X,Y)/Var(X) has variance Var(Y)·(1 − ρ²) — the experiment
    * needs (1 − ρ²)× the traffic for the same power. Metrics are
    * engagement COUNTS (events with value > 30, day-of-month ≤ 15 =
    * pre), so every moment — n, Σx, Σy, Σx², Σy², Σxy — is an exact
    * BIGINT from one combinable aggregate, and θ, Var(Y_cv), ρ² are a
    * handful of double ops over those six integers, in formula text
    * SHARED with the oracle so association order is identical by
    * construction.
    *
    * Scale: two keyed shuffles (events→user, user→scalar), six integers
    * of state per partial — CUPED over a billion users ships six numbers
    * per task. The count metric keeps Σx² within 2^53 at any realistic
    * SF (a revenue-sum variant would lift to DECIMAL partials first).
    */
  private def q396(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .select(col("user_id"),
        (dayofmonth(col("ts")) <= 15 && col("value") > 30.0)
          .cast(LongType).as("px"),
        (dayofmonth(col("ts")) > 15 && col("value") > 30.0)
          .cast(LongType).as("py"))
      .groupBy(col("user_id"))
      .agg(sum(col("px")).as("x"), sum(col("py")).as("y"))
    perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr(cupedFormulas: _*)
      .selectExpr(cupedDerived: _*)
  }

  private val q396Sql =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CAST(COUNT(*) FILTER (WHERE day(ts) <= 15 AND value > 30.0)
       |      AS BIGINT) AS x,
       |    CAST(COUNT(*) FILTER (WHERE day(ts) > 15 AND value > 30.0)
       |      AS BIGINT) AS y
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
       |  FROM pu),
       |f AS (SELECT ${cupedFormulas.mkString(", ")} FROM m)
       |SELECT ${cupedDerived.mkString(", ")} FROM f""".stripMargin

  // --------------------------------------------------------------- q397

  private val zFormulas = Seq(
    "event_type", "na", "nb", "xa", "xb",
    // degenerate cells (empty arm, all-convert, none-convert) have a
    // zero pooled variance: the test is undefined -> NULL, not a crash
    "CASE WHEN na = 0 OR nb = 0 OR xa + xb = 0 OR xa + xb = na + nb " +
      "THEN CAST(NULL AS DOUBLE) ELSE " +
      "(CAST(xa AS DOUBLE) / CAST(na AS DOUBLE) - " +
      "CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
      "sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * " +
      "(1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * " +
      "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END AS z")

  /** q397: TWO-PROPORTION Z-TEST — the A/B readout itself: users hash
    * deterministically into arms (md5 parity — the real randomization
    * unit assignment, reproducible across engines and reruns), convert
    * when any event of the type exceeds 480, and per event_type the
    * pooled two-proportion z statistic decides significance at the 1.96
    * bar. All counts are exact integers; z is division/multiplication
    * plus ONE sqrt — IEEE 754 requires sqrt correctly rounded, so it is
    * the one libm function both engines compute bit-identically (ln/exp
    * are not, which is why q332/q201 use integer ppm instead). The
    * formula text is shared with the oracle verbatim. The significance
    * flag compares z², avoiding an abs() spelling difference.
    *
    * Scale: one (user, type)-keyed combinable aggregate then an
    * O(types × 2) rollup — the z-test over a billion users ships four
    * counters per (type, arm).
    */
  private val zSigFormula =
    "CAST(CASE WHEN z IS NULL THEN NULL WHEN z * z > 1.96 * 1.96 " +
      "THEN 1 ELSE 0 END AS BIGINT) AS significant"

  private def q397(s: SparkSession, d: String): DataFrame = {
    val perUserType = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        (col("value") > 480.0).cast(LongType).as("hit"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("hit")).as("converted"))
      .withColumn("arm", Digest.bucket(Digest.salted("ab-", col("user_id")), 1, 7) % 2)
    perUserType.groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("xa"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("xb"))
      .selectExpr(zFormulas: _*)
      .selectExpr("*", zSigFormula)
      .orderBy(col("event_type"))
  }

  private val q397Sql = {
    val h = Exact.sqlHexToLong("md5('ab-' || user_id)", 1, 7)
    s"""WITH put0 AS (
       |  SELECT user_id, event_type,
       |    MAX(CASE WHEN value > 480.0 THEN 1 ELSE 0 END) AS converted
       |  FROM events GROUP BY user_id, event_type),
       |put AS (SELECT *, ($h) % 2 AS arm FROM put0),
       |g AS (
       |  SELECT event_type,
       |    CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS na,
       |    CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)
       |      AS BIGINT) AS xa,
       |    CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)
       |      AS BIGINT) AS xb
       |  FROM put GROUP BY event_type),
       |f AS (SELECT ${zFormulas.mkString(", ")} FROM g)
       |SELECT f.*, $zSigFormula
       |FROM f ORDER BY event_type""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q396_cuped" -> q396,
    "q397_ab_ztest" -> q397,
    "q389_krippendorff_alpha" -> q389,
    "q386_gopher_repetition" -> q386,
    "q387_bleu_stats" -> q387,
    "q376_pass_at_k" -> q376,
    "q381_tokenizer_fertility" -> q381,
    "q377_bootstrap_ci" -> q377,
    "q368_taxonomy_tagging" -> q368,
    "q318_lsh_tuning" -> q318,
    "q317_quality_auc" -> q317,
    "q333_quality_calibration" -> q333,
    "q334_neardup_leakage" -> q334,
    "q337_url_canonical_dedup" -> q337,
    "q342_label_agreement" -> q342,
    "q343_preference_pairs" -> q343,
    "q316_epoch_sharding" -> q316,
    "q230_contamination_matrix" -> q230,
    "q232_winnowing_fingerprints" -> q232,
    "q150_canonical_dedup" -> q150,
    "q151_decontamination" -> q151,
    "q169_sorted_neighborhood" -> q169,
    "q175_prefix_filter_join" -> q175,
    "q182_containment" -> q182,
    "q79_corpus_pipeline" -> q79,
    "q78_bottomk_udaf" -> q78,
    "q70_token_count" -> q70,
    "q71_quality_score" -> q71,
    "q301_quality_sweep" -> q301,
    "q310_curation_funnel" -> q310,
    "q312_quality_survivorship" -> q312,
    "q72_langid" -> q72,
    "q73_exact_dedup" -> q73,
    "q74_ngram_jaccard" -> q74,
    "q75_minhash_lsh" -> q75,
    "q76_simhash" -> q76,
    "q77_fingerprint" -> q77,
    "q127_edit_distance" -> q127
  )

  override def oracles: Map[String, String] = Map(
    "q396_cuped" -> q396Sql,
    "q397_ab_ztest" -> q397Sql,
    "q389_krippendorff_alpha" -> q389Sql,
    "q386_gopher_repetition" -> q386Sql,
    "q387_bleu_stats" -> q387Sql,
    "q376_pass_at_k" -> q376Sql,
    "q381_tokenizer_fertility" -> q381Sql,
    "q377_bootstrap_ci" -> q377Sql,
    "q368_taxonomy_tagging" -> q368Sql,
    "q318_lsh_tuning" -> q318Sql,
    "q317_quality_auc" -> q317Sql,
    "q333_quality_calibration" -> q333Sql,
    "q334_neardup_leakage" -> q334Sql,
    "q337_url_canonical_dedup" -> q337Sql,
    "q342_label_agreement" -> q342Sql,
    "q343_preference_pairs" -> q343Sql,
    "q316_epoch_sharding" -> q316Sql,
    "q230_contamination_matrix" -> q230Sql,
    "q232_winnowing_fingerprints" -> q232Sql,
    "q150_canonical_dedup" -> q150Sql,
    "q151_decontamination" -> q151Sql,
    "q169_sorted_neighborhood" -> q169Sql,
    "q175_prefix_filter_join" -> q175Sql,
    "q182_containment" -> q182Sql,
    "q79_corpus_pipeline" -> q79Sql,
    "q78_bottomk_udaf" -> q78Sql,
    "q70_token_count" -> q70Sql,
    "q71_quality_score" -> q71Sql,
    "q301_quality_sweep" -> q301Sql,
    "q310_curation_funnel" -> q310Sql,
    "q312_quality_survivorship" -> q312Sql,
    "q72_langid" -> q72Sql,
    "q73_exact_dedup" -> q73Sql,
    "q74_ngram_jaccard" -> q74Sql,
    "q75_minhash_lsh" -> q75Sql,
    "q76_simhash" -> q76Sql,
    "q77_fingerprint" -> q77Sql,
    "q127_edit_distance" -> q127Sql
  )
}
