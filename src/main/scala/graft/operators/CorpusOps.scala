package graft.operators

import graft.{Exact, QueryModule, Tables}
import graft.GraftSession.{inputParts, rebind, withConf}
import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-preparation operators a training-data pipeline needs beyond the
  * dedup/similarity family (SURVEY.md §2 "text analysis" extension): TF-IDF
  * term weighting, sequence chunking, redaction/masking, deterministic
  * train/val/test splitting, near-dup clustering (connected components),
  * and sequence packing. Everything is exact integer/string arithmetic so
  * the DuckDB oracles hash-match bit-for-bit (see `graft.Exact`).
  *
  * Reference analog: the scraper's whole pipeline is "land text, re-read,
  * filter" (`/root/reference/main.py:147-206` builds the corpus dicts);
  * these are the operations its consumers would run next at 100 TB.
  */
object CorpusOps extends QueryModule {

  /** Non-empty whitespace tokens — the corpus tokenization used throughout. */
  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(c, " "), t => length(t) > 0)

  private val toksSql = "list_filter(string_split(text, ' '), t -> length(t) > 0)"

  // ---------------------------------------------------------------- q66

  /** q66: TF-IDF term weighting with an exact linear-idf score
    * `tf * ((N * 1e6) div df)` — integer arithmetic (same ranking as
    * tf·log-idf for fixed tf since idf is monotone in N/df) so the result
    * hash-compares across engines; top-3 terms per document.
    *
    * Scale: tf is one partial-agg shuffle of O(doc·distinct-term); df is a
    * second partial agg of O(vocab); N joins in as a 1-row broadcast. The
    * per-doc top-3 is a bounded window. No driver-side collection.
    */
  private def q66(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ndocs = docs.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(ndocs))
      .withColumn("score", expr("tf * ((n * 1000000) div df)"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("term"))))
      .filter(col("rk") <= 3 && col("doc_id") < 20)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), desc("score"), col("term"))
  }

  private val q66Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, tf.term, tf, df,
       |    CAST(tf * ((n * 1000000) // df) AS BIGINT) AS score
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, term, tf, df, score FROM r
       |WHERE rk <= 3 AND doc_id < 20
       |ORDER BY doc_id, score DESC, term""".stripMargin

  // ---------------------------------------------------------------- q67

  /** q67: sequence chunking — overlapping 64-token windows at stride 32
    * (the training-sequence windowing shape). Each row fans out to a
    * bounded `ceil(n/stride)` chunk list via explode; chunk identity is the
    * md5 of the joined tokens, so downstream chunk-level dedup composes.
    * Pure per-row fan-out: no shuffle until the final presentation sort.
    */
  private def q67(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, CAST((n - 1) div 32 AS INT))")).as("ci"))
      .withColumn("chunk", expr("slice(t, ci * 32 + 1, 64)"))
      .select(
        col("doc_id"),
        col("ci").cast(LongType).as("chunk_idx"),
        size(col("chunk")).cast(LongType).as("chunk_len"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q67Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |s AS (
       |  SELECT doc_id, t, unnest(range(0, ((len(t) - 1) // 32) + 1)) AS chunk_idx
       |  FROM d WHERE len(t) > 0)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(t[chunk_idx * 32 + 1 : chunk_idx * 32 + 64]) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(t[chunk_idx * 32 + 1 : chunk_idx * 32 + 64], ' ')) AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** q142: overlapping chunking through the NATIVE table-generating
    * function `graft_chunks` ([[graft.functions.SlidingChunks]]) — q67's
    * semantics (window 48, stride 24 here) without materializing an index
    * sequence per document: the Generate node streams `(chunk_idx, chunk)`
    * rows straight out of the scan stage. Same shape downstream: map-only
    * fan-out, presentation sort only at the end.
    */
  private def q142(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .selectExpr("doc_id", "graft_chunks(t, 48, 24) AS (chunk_idx, chunk)")
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(col("chunk")).cast(LongType).as("chunk_len"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q142Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |s AS (
       |  SELECT doc_id, t, unnest(range(0, ((len(t) - 1) // 24) + 1)) AS chunk_idx
       |  FROM d WHERE len(t) > 0)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 48]) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 48], ' ')) AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------- q336

  /** q336: BOILERPLATE BLOCK STRIP — the corpus-TRANSFORM face of block
    * dedup (CCNet's shared-paragraph removal, Wenzek et al. 2020): where
    * q102/q174/q219 DETECT repeated passages, this pass REWRITES every
    * document — non-overlapping 8-token blocks whose hash occurs in ≥ 3
    * distinct documents (headers, license blocks, templated intros) are
    * dropped and the survivors reassembled in original order. Output per
    * affected document: block counts, kept token count, and the md5 of the
    * reassembled cleaned text (the identity downstream exact-dedup keys
    * on), so the transform itself is hash-checked against the oracle.
    *
    * Scale: block text shuffles ONCE, keyed by block hash, for the
    * document-frequency aggregate; the boilerplate set (df ≥ 3) is a tiny
    * fraction of distinct blocks and BROADCASTS back onto the block stream
    * — full text never shuffles twice and no pairwise stage exists. The
    * reassembly groups by doc_id with an `array_sort` over (bi, block)
    * structs, so the rebuilt string is deterministic under any partial-agg
    * order (the collect_list + sort idiom, not a global window).
    */
  private def q336(s: SparkSession, d: String): DataFrame = {
    val blocks = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, CAST((size(t) - 1) div 8 AS INT))")).as("i"))
      .select(col("doc_id"), col("i").cast(LongType).as("bi"),
        expr("slice(t, i * 8 + 1, 8)").as("blk"))
      .withColumn("h", md5(array_join(col("blk"), " ")))
    val boiler = blocks.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 3)
    blocks.join(broadcast(boiler), Seq("h"), "left")
      .select(col("doc_id"), col("bi"), col("blk"),
        col("nd").isNotNull.as("boiler"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("boiler"), 1)).as("n_removed"),
        sum(when(!col("boiler"), size(col("blk"))).otherwise(0))
          .cast(LongType).as("kept_tokens"),
        expr("md5(array_join(flatten(transform(array_sort(" +
          "collect_list(CASE WHEN NOT boiler THEN struct(bi, blk) END))," +
          " x -> x.blk)), ' '))").as("cleaned_hash"))
      .filter(col("n_removed") > 0)
      .orderBy(col("doc_id"))
  }

  private val q336Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |b AS (
       |  SELECT doc_id, bi,
       |    len(t[bi * 8 + 1 : bi * 8 + 8]) AS bl,
       |    array_to_string(t[bi * 8 + 1 : bi * 8 + 8], ' ') AS bstr
       |  FROM (SELECT doc_id, t, unnest(range(0, ((len(t) - 1) // 8) + 1)) AS bi
       |        FROM d WHERE len(t) > 0)),
       |dfreq AS (
       |  SELECT md5(bstr) AS h, COUNT(DISTINCT doc_id) AS nd
       |  FROM b GROUP BY 1),
       |lab AS (
       |  SELECT doc_id, bi, bl, bstr, (nd >= 3) AS boiler
       |  FROM b JOIN dfreq ON md5(bstr) = h),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |    CAST(COUNT(CASE WHEN boiler THEN 1 END) AS BIGINT) AS n_removed,
       |    CAST(SUM(CASE WHEN NOT boiler THEN bl ELSE 0 END) AS BIGINT) AS kept_tokens,
       |    md5(coalesce(string_agg(CASE WHEN NOT boiler THEN bstr END, ' '
       |      ORDER BY bi), '')) AS cleaned_hash
       |  FROM lab GROUP BY doc_id)
       |SELECT * FROM agg WHERE n_removed > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q340

  /** q340: SPAN-CORRUPTION MASKING SCHEDULE — the denoising-objective data
    * prep (T5, Raffel et al. 2020): every document's tokens partition into
    * 3-token groups and a group is masked iff its seed-free hash
    * `md5(doc_id-group) mod 7 = 0` (expected corruption ≈ 14% in 3-token
    * spans). The mask is DATA, not RNG state — the q69 discipline — so the
    * same document masks identically on any engine, any cluster size, any
    * rerun, and the oracle replays the entire schedule bit-for-bit.
    * Output per document: token count, masked-token count, span count,
    * and the corruption ratio in exact ppm — the numbers a pretraining
    * run's data loader asserts before packing (q86/q302).
    *
    * Scale: map-only token fan-out straight off the scan, one doc-keyed
    * partial aggregate — linear in corpus tokens with no shuffle wider
    * than (doc_id, group bits); no RNG coordination problem exists
    * because there is no RNG.
    */
  private def q340(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"),
        explode(expr("sequence(0, size(t) - 1)")).as("j"))
      .withColumn("g", expr("CAST(j div 3 AS BIGINT)"))
      .withColumn("m", Digest.bucket(concat(col("doc_id").cast("string"), lit("-"),
        col("g").cast("string")), 1, 7) % 7 === 0)
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        count(when(col("m"), 1)).as("n_masked"),
        countDistinct(when(col("m"), col("g"))).as("n_spans"))
      .withColumn("mask_ppm", expr("n_masked * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))

  private val q340Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5(doc_id || '-' || (j // 3))", 1, 7)
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |tok AS (
       |  SELECT doc_id, len(t) AS n_tokens, unnest(range(0, len(t))) AS j
       |  FROM d WHERE len(t) > 0),
       |lab AS (
       |  SELECT doc_id, n_tokens, j // 3 AS g,
       |    (CAST($hex7 AS BIGINT) % 7 = 0) AS m
       |  FROM tok)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(COUNT(CASE WHEN m THEN 1 END) AS BIGINT) AS n_masked,
       |  CAST(COUNT(DISTINCT CASE WHEN m THEN g END) AS BIGINT) AS n_spans,
       |  CAST(COUNT(CASE WHEN m THEN 1 END) * 1000000 // n_tokens AS BIGINT)
       |    AS mask_ppm
       |FROM lab GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin
  }

  /** q166: one BPE merge iteration — the inner loop of byte-pair-encoding
    * tokenizer training: count every adjacent CHARACTER pair inside each
    * distinct word, weighted by the word's corpus frequency, and rank the
    * merge candidates. (Full BPE training is a sequential chain of these;
    * the distributed primitive per iteration is exactly this weighted
    * pair count.) Top-20 by count with the pair string as tie-break.
    *
    * Scale: the vocabulary aggregates FIRST (one token-keyed shuffle with
    * map-side combine), so pair fan-out runs per DISTINCT word × its
    * length — corpus frequency arrives as a multiplier, not repetition;
    * the pair-count shuffle is bounded by |vocab| × word length.
    */
  private def q166(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
    vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("pair"))
      .limit(20)
  }

  private val q166Sql =
    s"""WITH vocab AS (
       |  SELECT tok AS w, COUNT(*) AS freq FROM (
       |    SELECT unnest($toksSql) AS tok FROM documents)
       |  GROUP BY 1 HAVING length(tok) >= 2),
       |pairs AS (
       |  SELECT unnest(list_transform(range(1, length(w)),
       |      i -> substring(w, CAST(i AS INT), 2))) AS pair, freq
       |  FROM vocab)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
       |FROM pairs GROUP BY pair
       |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin

  /** q174: content-defined-chunk dedup — the storage-dedup pass: blocks
    * cut at CONTENT boundaries (after any token ending in 'e'/'a' — a
    * deterministic stand-in for a gear/rolling-hash cut rule, ~4-token
    * blocks here) so duplicated spans dedup even when SHIFTED — the
    * failure mode that makes q102's fixed-offset passages miss moved
    * boilerplate. Per source: block count, distinct blocks, and the
    * reclaimable duplicate fraction (ppm).
    *
    * Scale: explode is map-side; the boundary prefix-count and block
    * assembly share ONE doc-keyed shuffle (the window and the groupBy use
    * the same key); dedup counts shuffle 16-byte hashes. Exactly a CDC
    * dedup (LBFS/restic-style) with the hash boundary swapped for a
    * char-class rule both engines evaluate identically.
    */
  private def q174(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("flag",
        when(substring(col("tok"), -1, 1).isin("e", "a"), 1L).otherwise(0L))
      .withColumn("blk", coalesce(sum(col("flag")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("blk"))
      .agg(md5(array_join(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .getField("tok"), " ")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blocks"),
        countDistinct(col("h")).as("distinct_blocks"))
      .select(col("source"), col("n_blocks"), col("distinct_blocks"),
        expr("(n_blocks - distinct_blocks) * 1000000L div n_blocks")
          .as("reclaimable_ppm"))
      .orderBy(col("source"))
  }

  private val q174Sql =
    s"""WITH t AS (
       |  SELECT doc_id, source, u.tok AS tok, u.pos AS pos FROM (
       |    SELECT doc_id, source, unnest(list_transform($toksSql,
       |      (x, i) -> {'tok': x, 'pos': i})) AS u
       |    FROM documents)),
       |b AS (
       |  SELECT doc_id, source, tok, pos,
       |    COALESCE(SUM(CASE WHEN right(tok, 1) IN ('e', 'a')
       |                      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS blk
       |  FROM t),
       |blocks AS (
       |  SELECT source, md5(string_agg(tok, ' ' ORDER BY pos)) AS h
       |  FROM b GROUP BY doc_id, source, blk)
       |SELECT source, COUNT(*) AS n_blocks,
       |  COUNT(DISTINCT h) AS distinct_blocks,
       |  ((COUNT(*) - COUNT(DISTINCT h)) * 1000000) // COUNT(*)
       |    AS reclaimable_ppm
       |FROM blocks GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q68

  /** q68: deny-list redaction — mask a term set with word-boundary regex
    * (the PII-redaction shape; this corpus is synthetic and PII-free, so
    * the deny-list stands in for the email/phone patterns). Per-row codegen
    * projection, zero shuffles before the presentation sort.
    */
  private def q68(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\b(customer|spark)\\b")).cast(LongType)
          .as("n_masked"),
        md5(regexp_replace(col("text"), "\\b(customer|spark)\\b", "<ENT>"))
          .as("masked_hash"))
      .orderBy(col("doc_id"))

  private val q68Sql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(customer|spark)\b')) AS BIGINT) AS n_masked,
      |  md5(regexp_replace(text, '\b(customer|spark)\b', '<ENT>', 'g')) AS masked_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69

  /** q69: deterministic train/val/test split — hash-bucket each doc_id via
    * md5 (seed-free, so the split is reproducible across runs, engines and
    * cluster sizes — the property a 100 TB pipeline needs; Spark's
    * randomSplit is seed+partitioning dependent) into 80/10/10, report
    * per-split doc and token counts.
    */
  private def q69(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", Digest.docBucket(100))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast(LongType)).as("n_tokens"))
      .orderBy(col("split"))

  private val q69Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 7)
    s"""SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT text, CASE WHEN bucket < 80 THEN 'train'
       |                    WHEN bucket < 90 THEN 'val'
       |                    ELSE 'test' END AS split
       |  FROM (SELECT text, CAST($hex7 AS BIGINT) % 100 AS bucket FROM documents))
       |GROUP BY split ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- q85

  /** q85: near-dup clustering — connected components over the exact-Jaccard
    * near-dup pair graph (3-shingles, j ≥ 0.3), by iterative min-label
    * propagation to fixpoint. Components get the min member doc_id as
    * cluster id; output is cluster sizes.
    *
    * Scale: shingles are identity-hashed to 64-bit ints before the
    * self-join (8-byte shuffle keys). Each iteration is one join +
    * partial-agg shuffle on doc_id at a parallelism sized to the edge
    * count — the working set is O(near-dup pairs), a sliver of the scan;
    * iteration count is bounded by the component diameter (near-dup
    * clusters are shallow — single digits even at 100 TB). The loop
    * `localCheckpoint`s per round to truncate lineage. This is the
    * alternating-rounds shape of large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") specialized to
    * shallow graphs.
    */
  /** Shared by q85/q113: materialized (localCheckpointed) near-dup edges —
    * exact-Jaccard pairs (3-shingles, j ≥ 0.3).
    *
    * The shingled relation is cached: it feeds both sides of the self-join
    * plus the size lookup, and tokenize+shingle is the expensive scalar
    * work — without the cache it is recomputed three times (and the
    * identical cached scans let the planner reuse one exchange for both
    * self-join sides). Shingles are reduced to 64-bit hashes up front:
    * the join/shuffle key drops from a ~25-byte string to 8 bytes, and
    * intersection counts are unchanged short of an xxhash64 collision
    * (~2^-64 per shingle pair — the same identity-by-hash risk class as
    * the md5 fingerprints used across this module). Postings are
    * df-capped at [[Jaccard.StopShingleDf]] before the self-join so a
    * boilerplate shingle cannot go quadratic (see [[Jaccard]]); the
    * oracle CTE mirrors the cap.
    */
  private def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(t) - 3), i -> xxhash64(t[i], t[i+1], t[i+2]))"))
        .as("shingles"))
      .cache()
    // set size carried per posting (+8 bytes/row through the one fat
    // exchange) — Jaccard.pairsCarried then needs no sizes joins, which
    // re-shuffled the pair mass twice
    val postings = sh.select(col("doc_id").as("id"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("e"))
    val edges = Jaccard.pairsCarried(postings, minJ = 0.3,
        maxDf = Jaccard.StopShingleDf)
      .select(col("ida").as("da"), col("idb").as("db"))
    val edgesCp = edges.localCheckpoint()
    sh.unpersist() // edges are materialized; callers never re-read sh
    edgesCp
  }

  /** Shared by q85/q113: connected components of a materialized edge list
    * by iterative min-label propagation to fixpoint; returns one
    * `(id, comp)` row per edge-touched node, `comp` = min member id.
    *
    * Scale: each iteration is one join + partial-agg shuffle on the node
    * id at a parallelism sized to the edge count — the working set is
    * O(near-dup pairs), a sliver of the scan; iteration count is bounded
    * by the component diameter (near-dup clusters are shallow — single
    * digits even at 100 TB). The loop `localCheckpoint`s per round to
    * truncate lineage. This is the alternating-rounds shape of
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") specialized to shallow graphs.
    */
  private def components(s: SparkSession, edgesCp: DataFrame): DataFrame = {
    // the fixpoint working set is O(near-dup pairs) — a sliver of the
    // input (1.3M shingle pairs → 256 edges at sf0.1). Run the loop at a
    // parallelism sized to it, not to the scan: each round is one small
    // shuffle, and task-launch overhead dominates when every shuffle fans
    // out to the session's scan-sized partition count.
    val sessParts = s.conf.get("spark.sql.shuffle.partitions")
    val nEdges = edgesCp.count()
    // floor 2, not 1: at 1 the loop inputs report SinglePartition, and a
    // checkpointed LogicalRDD inherits its SOURCE plan's size ESTIMATE
    // (the Jaccard self-join's ~1.9e20 default-size product at sf0.1, not
    // the 256 materialized edges), so EnsureRequirements refuses to plan
    // on the oversized single partition (spark.sql.maxSinglePartitionBytes)
    // and re-shuffles every loop input each round. hash(da, 2) carries no
    // such escape hatch — co-partitioned joins reuse it regardless of the
    // estimate.
    val loopParts =
      math.max(2L, math.min(sessParts.toLong, nEdges / 500000L + 1L)).toInt
    // Partition-preserving fixpoint (guide §2.4 — remove shuffles
    // outright): the symmetric edge list is hash(da, loopParts)-
    // partitioned ONCE, outside the loop; `localCheckpoint` records the
    // physical partitioning in its LogicalRDD, so every round's edge-side
    // join input already satisfies the join's distribution and
    // EnsureRequirements inserts NO edge Exchange in any round. Labels
    // flow out of each round's left join hash(id, loopParts)-partitioned
    // (id is the pass-through join key) and are checkpointed with that
    // partitioning, so the label side of round N+1's joins needs no
    // Exchange either. The one shuffle per round that remains is the
    // groupBy(db) neighbor-min aggregation — the actual label movement
    // along edges, which no partitioning can remove.
    //
    // AQE is OFF inside the loop: under AQE the checkpoint sees an
    // AdaptiveSparkPlan whose outputPartitioning is still
    // UnknownPartitioning, so every round re-shuffled both join
    // inputs (the r15 before-plan: 4 Exchanges per round, all feeding
    // hash(…, loopParts) of checkpointed UnknownPartitioning(0) scans).
    // Nothing is lost: the loop's partition count is already sized to the
    // edge volume above — the one job AQE would do here — and the
    // remaining aggregation shuffle is partial-agg'd map-side.
    val labels = withConf(s, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> loopParts.toString) { s =>
      val edges = rebind(s, edgesCp)
      val bi = edges.union(edges.select(col("db").as("da"), col("da").as("db")))
        .repartition(loopParts, col("da"))
        .localCheckpoint()
      // labels(0): every node its own component — derived from the
      // checkpointed `bi`, so the distinct's partial agg runs on the
      // hash(da)-partitioned rows and needs no further exchange; not
      // checkpointed — round 1 computes it once inside its own checkpoint job
      var labels = bi.select(col("da").as("id")).distinct()
        .select(col("id"), col("id").as("comp"))
      var converged = false
      var round = 0
      while (!converged) {
        round += 1
        val nbrMin = bi.join(labels, col("da") === col("id"))
          .groupBy(col("db").as("nid"))
          .agg(min(col("comp")).as("nbr_comp"))
        val next = labels.join(nbrMin, col("id") === col("nid"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
            (col("nbr_comp") < col("comp")).as("changed"))
        // dev-only: dump the per-round loop-body plan (rounds 1-2) so the
        // fixpoint's exchange count is auditable — Profile's explain only
        // shows the post-loop plan over the checkpointed labels
        if (round <= 2 && sys.env.contains("GRAFT_EXPLAIN_LOOP")) {
          println(s"----- components loop round $round plan -----")
          next.explain("formatted")
        }
        val nextCp = next.localCheckpoint()
        converged = nextCp.filter(col("changed")).limit(1).count() == 0
        labels = nextCp.select(col("id"), col("comp"))
      }
      labels
    }
    rebind(s, labels) // the caller's plans over the labels keep its conf
  }

  private def q85(s: SparkSession, d: String): DataFrame =
    components(s, nearDupEdges(s, d))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("sz"))
      .orderBy(col("comp"))

  /** q186: dedup QA rollup — per source: corpus size, docs involved in at
    * least one near-dup pair (distinct [[nearDupEdges]] endpoints), and
    * the involvement rate in ppm. The report a pipeline owner reads to
    * see WHERE the duplication lives before q85/q113 act on it.
    *
    * Scale: endpoint distinct is near-dup-pair-sized; one broadcast-small
    * join back to doc metadata; per-source totals are a second tiny agg.
    */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val e = nearDupEdges(s, d)
    val involved = e.select(col("da").as("doc_id"))
      .union(e.select(col("db").as("doc_id"))).distinct()
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(docs.join(involved, "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("nd")),
        Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("nd"), lit(0L)).as("n_dup_involved"),
        expr("coalesce(nd, 0L) * 1000000L div n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }

  // lazy: edgesBiCteSql is declared later in the file
  private lazy val q186Sql =
    s"""WITH $edgesBiCteSql,
       |involved AS (SELECT DISTINCT a AS doc_id FROM bi)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(COUNT(i.doc_id) AS BIGINT) AS n_dup_involved,
       |  (COUNT(i.doc_id) * 1000000) // COUNT(*) AS dup_ppm
       |FROM documents d LEFT JOIN involved i ON d.doc_id = i.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q187: vocabulary growth (Heaps-curve audit) — cumulative distinct
    * token types vs cumulative token volume over the corpus in doc_id
    * order, by corpus decile: the "is more data still adding new words?"
    * diagnostic behind tokenizer/vocab sizing. First-occurrence rewrite
    * (q145's trick lifted to tokens): a type counts in the decile of its
    * FIRST document, so the curve costs two bounded shuffles — never a
    * quadratic expanding window over postings.
    */
  private def q187(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the doc-count scalar joins back by broadcast (the q190 pattern)
    // instead of a separate driver-side .head job
    val nDocs = docs.agg((max(col("doc_id")) + 1).as("n_docs_total"))
    val toksByDecile = docs.crossJoin(broadcast(nDocs))
      .select(expr("doc_id * 10 div n_docs_total").as("decile"),
        explode(toks(col("text"))).as("tok"))
    val volume = toksByDecile.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toksByDecile.groupBy(col("tok"))
      .agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    volume.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .withColumn("novelty_ppm",
        expr("n_new_types * 1000000L div n_tokens"))
      .orderBy(col("decile"))
  }

  private val q187Sql =
    s"""WITH n AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
       |t AS (
       |  SELECT (doc_id * 10) // nd AS decile, unnest($toksSql) AS tok
       |  FROM documents, n),
       |vol AS (SELECT decile, COUNT(*) AS n_tokens FROM t GROUP BY 1),
       |nt AS (
       |  SELECT decile, COUNT(*) AS n_new_types FROM (
       |    SELECT tok, MIN(decile) AS decile FROM t GROUP BY 1)
       |  GROUP BY 1)
       |SELECT v.decile, v.n_tokens,
       |  CAST(COALESCE(nt.n_new_types, 0) AS BIGINT) AS n_new_types,
       |  CAST(SUM(v.n_tokens) OVER (ORDER BY v.decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tokens,
       |  CAST(SUM(COALESCE(nt.n_new_types, 0)) OVER (ORDER BY v.decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_types,
       |  (COALESCE(nt.n_new_types, 0) * 1000000) // v.n_tokens
       |    AS novelty_ppm
       |FROM vol v LEFT JOIN nt ON v.decile = nt.decile
       |ORDER BY v.decile""".stripMargin

  /** DuckDB spelling of [[nearDupEdges]] (+ symmetric closure `bi`):
    * the CTE chain ending in `bi(a, b)`. Shared by the q85/q113/q125
    * oracles so edge construction can never drift between them.
    */
  private val edgesBiCteSql =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents) WHERE len(t) >= 3),
       |ex AS (SELECT doc_id, unnest(shingles) AS sx FROM sh),
       |hotx AS (SELECT sx FROM ex GROUP BY sx HAVING COUNT(*) > ${Jaccard.StopShingleDf}),
       |coldx AS (SELECT doc_id, sx FROM ex WHERE sx NOT IN (SELECT sx FROM hotx)),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
       |  FROM coldx a JOIN coldx b ON a.sx = b.sx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT da, db FROM inter
       |  JOIN sh sa ON da = sa.doc_id JOIN sh sb ON db = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (len(sa.shingles) + len(sb.shingles) - i) >= 0.3),
       |bi AS (SELECT da AS a, db AS b FROM edges
       |       UNION SELECT db, da FROM edges)""".stripMargin

  /** DuckDB spelling of [[nearDupEdges]] + [[components]]: the recursive-CTE
    * chain ending in `comp(doc_id, comp)` — one row per edge-touched doc.
    * Shared by the q85 and q113 oracles (requires WITH RECURSIVE).
    */
  private val componentsCteSql =
    s"""$edgesBiCteSql,
       |r(src, dst) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM bi)
       |  UNION
       |  SELECT r.src, bi.b FROM r JOIN bi ON r.dst = bi.a),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS comp FROM r GROUP BY src)""".stripMargin

  private val q85Sql =
    s"""WITH RECURSIVE $componentsCteSql
       |SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM comp
       |GROUP BY comp ORDER BY comp""".stripMargin

  // --------------------------------------------------------------- q357

  /** q357: SOFT DEDUP DOWN-WEIGHTING — the alternative to dropping
    * near-duplicates (q113 keeps one canonical, q312 the best): keep
    * EVERY member but weight it 1/|cluster| at sampling time, so a
    * passage's total training exposure is independent of how many times
    * the crawl re-collected it (the soft variant of Lee et al.'s dedup
    * argument; what mixing pipelines feed q228 instead of a hard drop
    * when provenance must be preserved). Weights are exact ppm integers
    * (`10⁶ div |cluster|`, singletons 10⁶); the per-source report — raw
    * docs, cluster members, EFFECTIVE corpus size in ppm-docs — is the
    * number that replaces raw row counts in every downstream budget
    * (q274's waterfill, q283's schedule).
    *
    * Scale: the component fixpoint is O(near-dup pairs) (q85's loop);
    * weights are one tiny join against cluster sizes; the rollup is a
    * source-keyed partial agg. Text never shuffles — only ids and
    * weights.
    */
  private def q357(s: SparkSession, d: String): DataFrame = {
    val comp = components(s, nearDupEdges(s, d))
    val sz = comp.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val w = comp.join(sz, "comp")
      .select(col("id").as("doc_id"), expr("1000000L div sz").as("w_ppm"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(w, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("w_ppm")).as("n_dup_members"),
        sum(coalesce(col("w_ppm"), lit(1000000L))).cast(LongType)
          .as("effective_ppm"))
      .orderBy(col("source"))
  }

  private lazy val q357Sql =
    s"""WITH RECURSIVE $componentsCteSql,
       |sz AS (SELECT comp AS c, COUNT(*) AS sz FROM comp GROUP BY 1),
       |w AS (SELECT comp.doc_id, 1000000 // sz.sz AS w_ppm
       |      FROM comp JOIN sz ON comp.comp = sz.c)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(w.doc_id) AS BIGINT) AS n_dup_members,
       |  CAST(SUM(COALESCE(w.w_ppm, 1000000)) AS BIGINT) AS effective_ppm
       |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --------------------------------------------------------------- q238

  /** q238: LEAKAGE-SAFE train/val/test split — the assignment step every
    * LLM data pipeline must get right: splitting DOCUMENTS independently
    * leaks near-duplicates across the train/eval boundary (a test doc's
    * near-copy in train inflates eval), so the unit of assignment is the
    * NEAR-DUP GROUP: q85's connected components over [[nearDupEdges]],
    * with untouched docs as singleton groups. Each group lands in one
    * split by the q48 seed-free hash bucket of its group id (80/10/10),
    * so membership is deterministic, partitioning-independent, and
    * reproducible across engines. The output carries the proof: the
    * per-split rollup rides with `cross_split_edges` — the count of
    * near-dup pairs whose endpoints landed in different splits, ZERO by
    * construction and verified by both engines (an oracle-checked
    * invariant, not an assertion).
    *
    * Scale: the component fixpoint is O(near-dup pairs) (q85's loop);
    * the assignment is a map-side hash on the group id; the leakage
    * audit joins the edge sliver (not the corpus) to the assignment
    * twice. Splitting by group instead of doc costs one extra
    * left join against the component labels — the whole price of
    * leak-freedom.
    */
  private def q238(s: SparkSession, d: String): DataFrame = {
    val edges = nearDupEdges(s, d)
    val comp = components(s, edges)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val asg = docs.join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("comp"), col("doc_id")).as("grp"))
      .withColumn("b", Digest.bucket(Digest.salted("split-", col("grp")), 1, 7) % 100)
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test"))
    val cross = edges
      .join(asg.select(col("doc_id").as("da"), col("split").as("spa")), "da")
      .join(asg.select(col("doc_id").as("db"), col("split").as("spb")), "db")
      .filter(col("spa") =!= col("spb"))
      .agg(count(lit(1)).as("cross_split_edges"))
    asg.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(col("n_chars")).as("n_chars"))
      .crossJoin(broadcast(cross))
      .orderBy(col("split"))
  }

  private lazy val q238Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('split-' || grp)", 1, 7)
    s"""WITH RECURSIVE $componentsCteSql,
       |asg AS (
       |  SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS grp
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |spl AS (
       |  SELECT doc_id, n_chars, grp,
       |    CASE WHEN ($hex7) % 100 < 80 THEN 'train'
       |         WHEN ($hex7) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM asg),
       |x AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_edges
       |  FROM bi JOIN spl sa ON bi.a = sa.doc_id
       |          JOIN spl sb ON bi.b = sb.doc_id
       |  WHERE bi.a < bi.b AND sa.split <> sb.split)
       |SELECT spl.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  (SELECT cross_split_edges FROM x) AS cross_split_edges
       |FROM spl GROUP BY spl.split ORDER BY spl.split""".stripMargin
  }

  // --------------------------------------------------------------- q125

  /** q125: BFS reachability over the near-dup graph via Spark 4's
    * `WITH RECURSIVE` — per-hop frontier profile (node count, id range)
    * within 3 hops of the lowest-id edge-touched doc. The declarative twin
    * of [[components]]' hand-rolled fixpoint loop: recursion expands
    * depth-capped UNION ALL paths, and the MIN(depth)-per-node rollup
    * collapses path multiplicity into BFS levels — identical semantics in
    * DuckDB, so the whole recursive evaluation is hash-verified.
    *
    * Scale: each recursive step is one join of the frontier against the
    * edge list — the same per-iteration shuffle as [[components]], but
    * UNION ALL keeps every path, so the cap (3) bounds the blow-up on
    * cyclic components; near-dup graphs are shallow and sparse (256 edges
    * from a 1.3M-pair candidate set at sf0.1), which is what makes the
    * path-expansion spelling affordable. For unbounded-diameter graphs
    * [[components]]' per-round dedup loop remains the scale path.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val edges = nearDupEdges(s, d)
    edges.union(edges.select(col("db").as("da"), col("da").as("db")))
      .createOrReplaceTempView("nd_bi_edges_q125")
    s.sql(
      """WITH RECURSIVE r(id, depth) AS (
        |  SELECT MIN(da), 0 FROM nd_bi_edges_q125
        |  UNION ALL
        |  SELECT e.db, r.depth + 1
        |  FROM r JOIN nd_bi_edges_q125 e ON r.id = e.da
        |  WHERE r.depth < 3)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       MIN(id) AS min_doc, MAX(id) AS max_doc
        |FROM (SELECT id, MIN(depth) AS depth FROM r GROUP BY id)
        |GROUP BY depth ORDER BY depth""".stripMargin)
  }

  private val q125Sql =
    s"""WITH RECURSIVE $edgesBiCteSql,
       |r(id, depth) AS (
       |  SELECT MIN(a), 0 FROM bi
       |  UNION ALL
       |  SELECT bi.b, r.depth + 1 FROM r JOIN bi ON r.id = bi.a
       |  WHERE r.depth < 3)
       |SELECT CAST(depth AS BIGINT) AS depth,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  MIN(id) AS min_doc, MAX(id) AS max_doc
       |FROM (SELECT id, MIN(depth) AS depth FROM r GROUP BY id)
       |GROUP BY depth ORDER BY depth""".stripMargin

  // ---------------------------------------------------------------- q112

  /** q112: token co-occurrence graph statistics — nodes are tokens (first
    * 32 distinct tokens per doc), an edge connects tokens co-occurring in
    * ≥ 4 % of documents, and the output is the one-row graph profile:
    * node/edge/triangle/wedge counts and the global clustering coefficient
    * (3·triangles / wedges) — the phrase-mining / topic-cohesion signal.
    *
    * Scale shapes: pair generation is IN-ROW (sorted distinct token
    * prefix → all i<j pairs via nested `transform`), a map-only fan-out
    * bounded by 32²/2 per doc — no self-join of the exploded postings, so
    * nothing shuffles until the (ta, tb) count, whose key space is the
    * vocabulary², capped by the threshold. Triangle enumeration runs on
    * DEGREE-ORIENTED edges (each edge points from its (deg, id)-smaller
    * endpoint), which bounds every node's out-degree by √(2·|E|) and makes
    * the two-hop join's fan-out Σ outdeg(v)² = O(|E|^1.5) — the classic
    * MapReduce triangle bound (Suri & Vassilvitskii, WWW'11) — instead of
    * Σ deg(v)², which a hub node turns quadratic. The count is
    * orientation-independent, so the oracle's simple a<b<c triple join
    * agrees exactly.
    */
  /** Undirected token co-occurrence edges (ta < tb, co-occurring in ≥ 4 %
    * of documents) — shared by q112 (triangles) and `Graphs.q138`
    * (PageRank). Pair generation is IN-ROW (see q112's scaladoc); the
    * result is threshold-capped small and localCheckpointed because every
    * consumer fans it into several joins.
    */
  /** All co-occurring (ta < tb) token pairs with their co-occurrence count
    * (pre-threshold) — the in-row fan-out of [[tokenEdges]]'s scaladoc,
    * shared with `Graphs.q152`'s PMI ranking.
    */
  private[operators] def tokenPairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(array_sort(array_distinct(slice(toks(col("text")), 1, 32))).as("ts"))
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> transform(slice(ts, i + 2, size(ts)), y -> struct(x AS ta, y AS tb))))"))
        .as("p"))
      .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
      .agg(count(lit(1)).as("cooc"))

  /** Per-token document frequency over the same 32-token distinct prefixes
    * [[tokenPairs]] pairs up.
    */
  private[operators] def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(array_distinct(slice(toks(col("text")), 1, 32))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))

  private[operators] def tokenEdges(s: SparkSession, d: String): DataFrame = {
    val nDocs = Tables.documents(s, d).count()
    tokenPairs(s, d)
      .filter(col("cooc") * 25 >= nDocs)
      .select(col("ta"), col("tb"))
      .localCheckpoint()
  }

  /** DuckDB CTE bodies (`dt`, `pairs`, `edges`) matching [[tokenEdges]] —
    * interpolated into every oracle that reads the co-occurrence graph.
    */
  private[operators] val tokenEdgesCteSql: String =
    s"""dt AS (
       |  SELECT doc_id, unnest(list_distinct(($toksSql)[1:32])) AS tok FROM documents),
       |pairs AS (
       |  SELECT a.tok AS ta, b.tok AS tb, COUNT(*) AS cooc
       |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT ta, tb FROM pairs
       |  WHERE cooc * 25 >= (SELECT COUNT(*) FROM documents))""".stripMargin

  private def q112(s: SparkSession, d: String): DataFrame = {
    val edges = tokenEdges(s, d)
    val deg = edges.select(col("ta").as("v")).union(edges.select(col("tb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient each edge from its (deg, id)-smaller endpoint
    val oriented = edges
      .join(deg.select(col("v").as("ta"), col("deg").as("da")), "ta")
      .join(deg.select(col("v").as("tb"), col("deg").as("db")), "tb")
      .select(
        when(struct(col("da"), col("ta")) < struct(col("db"), col("tb")), col("ta"))
          .otherwise(col("tb")).as("src"),
        when(struct(col("da"), col("ta")) < struct(col("db"), col("tb")), col("tb"))
          .otherwise(col("ta")).as("dst"))
      .localCheckpoint()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oriented.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
      .crossJoin(wedges)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        (lit(3.0) * col("n_triangles") / col("n_wedges")).as("clustering"))
  }

  private val q112Sql =
    s"""WITH $tokenEdgesCteSql,
       |deg AS (
       |  SELECT v, COUNT(*) AS deg FROM (
       |    SELECT ta AS v FROM edges UNION ALL SELECT tb FROM edges)
       |  GROUP BY v),
       |tri AS (
       |  SELECT COUNT(*) AS n FROM edges e1
       |  JOIN edges e2 ON e1.tb = e2.ta
       |  JOIN edges e3 ON e3.ta = e1.ta AND e3.tb = e2.tb)
       |SELECT
       |  (SELECT COUNT(*) FROM deg) AS n_nodes,
       |  (SELECT COUNT(*) FROM edges) AS n_edges,
       |  (SELECT n FROM tri) AS n_triangles,
       |  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       |  3.0 * (SELECT n FROM tri)
       |    / (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS clustering""".stripMargin

  // ---------------------------------------------------------------- q113

  /** q113: canonical-document selection — the step after q85's clustering
    * in a dedup pipeline: inside every multi-doc near-dup cluster keep ONE
    * canonical representative (highest quality score, doc_id as the
    * deterministic tiebreak — near-dup clusters routinely hold EXACT
    * duplicates whose qualities tie, so the tiebreak is load-bearing).
    * Output: cluster id, size, the kept doc and its quality.
    *
    * Scale: reuses [[nearDupEdges]] + [[components]] (working set =
    * near-dup pairs), then one window pass partitioned by cluster id over
    * the edge-touched docs only — the quality projection joins to the
    * labels BEFORE any window work, so the ranked relation is cluster-rows
    * sized, not corpus-sized.
    */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val labels = components(s, nearDupEdges(s, d)) // (id, comp)
    // q71's quality formula over this module's tokenizer, computed ONLY
    // for edge-touched docs (the semi-join below prunes the corpus scan)
    val quality = Tables.documents(s, d)
      .join(labels.select(col("id")), col("doc_id") === col("id"), "semi")
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        (size(filter(col("t"), t => t.isin("the", "a"))).cast(DoubleType)
          / size(col("t"))).as("stop_ratio"),
        (size(array_distinct(col("t"))).cast(DoubleType) / size(col("t"))).as("uniq_ratio"))
      .select(col("doc_id"),
        (col("uniq_ratio") * 0.5
          + (lit(1.0) - col("stop_ratio")) * 0.3
          + least(col("n_tokens").cast(DoubleType) / 256.0, lit(1.0)) * 0.2).as("quality"))
    val byQuality = Window.partitionBy(col("comp"))
      .orderBy(col("quality").desc, col("doc_id"))
    labels.join(quality, col("id") === col("doc_id"))
      .withColumn("rk", row_number().over(byQuality))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("comp"))))
      .filter(col("rk") === 1 && col("sz") > 1)
      .select(col("comp").as("cluster_id"), col("sz"),
        col("doc_id").as("kept_doc"), col("quality").as("kept_quality"))
      .orderBy(col("cluster_id"))
  }

  private val q113Sql =
    s"""WITH RECURSIVE $componentsCteSql,
       |q AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) * 0.5
       |      + (1.0 - CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t)) * 0.3
       |      + LEAST(CAST(len(t) AS DOUBLE) / 256.0, 1.0) * 0.2 AS quality
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
       |ranked AS (
       |  SELECT comp.comp, comp.doc_id, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY comp.comp ORDER BY q.quality DESC, comp.doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY comp.comp) AS sz
       |  FROM comp JOIN q ON comp.doc_id = q.doc_id)
       |SELECT comp AS cluster_id, CAST(sz AS BIGINT) AS sz,
       |  doc_id AS kept_doc, quality AS kept_quality
       |FROM ranked WHERE rk = 1 AND sz > 1
       |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- q86

  /** q86: sequence packing — contiguous greedy fill of 2048-token context
    * windows per language, docs in doc_id order: a doc's bin is
    * `start_offset div 2048` of its position in the concatenated token
    * stream. One window-function pass (cumulative sum) per partition key —
    * the deterministic, shuffle-once packing a trainer's data loader needs.
    */
  private def q86(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr("(cum - n_tokens) div 2048"))
      .groupBy(col("lang"))
      .agg(
        (max(col("bin")) + 1).as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  private val q86Sql =
    s"""WITH d AS (
       |  SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |binned AS (
       |  SELECT lang, n_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS bin
       |  FROM d)
       |SELECT lang, CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM binned GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q302

  /** q302: PACKING EFFICIENCY — the loader-side audit of q86's greedy
    * 2048-token packing, per language: bins consumed, capacity, slack
    * (padding the trainer burns), and the truncation exposure — docs
    * longer than one context and the tokens beyond it (what a
    * truncate-don't-split loader would throw away). Every figure is an
    * exact integer, so the report hash-matches; together with q301's
    * quality sweep it is the two-axis budget table (quality floor ×
    * context utilization) a training-data planner reads before a run.
    *
    * Scale: the same one windowed pass per language as q86 plus a few
    * conditional sums riding the same aggregate — no extra shuffle; the
    * report is O(#langs) rows.
    */
  private def q302(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr("(cum - n_tokens) div 2048"))
      .groupBy(col("lang"))
      .agg(
        (max(col("bin")) + 1).as("n_bins"),
        ((max(col("bin")) + 1) * 2048).as("capacity"),
        sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > 2048, lit(1L)).otherwise(lit(0L)))
          .as("n_overlong"),
        sum(when(col("n_tokens") > 2048, col("n_tokens") - 2048)
          .otherwise(lit(0L))).as("waste_if_truncated"))
      .withColumn("slack", col("capacity") - col("total_tokens"))
      .orderBy(col("lang"))
  }

  private val q302Sql =
    s"""WITH d AS (
       |  SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |binned AS (
       |  SELECT lang, n_tokens,
       |    (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS bin
       |  FROM d),
       |agg AS (
       |  SELECT lang, CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       |    CAST((MAX(bin) + 1) * 2048 AS BIGINT) AS capacity,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN n_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_overlong,
       |    CAST(SUM(CASE WHEN n_tokens > 2048 THEN n_tokens - 2048 ELSE 0 END)
       |      AS BIGINT) AS waste_if_truncated
       |  FROM binned GROUP BY lang)
       |SELECT lang, n_bins, capacity, total_tokens, n_docs, n_overlong,
       |  waste_if_truncated, capacity - total_tokens AS slack
       |FROM agg ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q303

  /** q303: DUPLICATE PROVENANCE — the direction of copying between
    * sources: within each duplicate group (md5 of the 100-char text
    * PREFIX — the boilerplate/template-detection spelling, which also
    * catches near-verbatim re-hosts whose tails differ) the lowest
    * doc_id is the ORIGINAL (the deterministic survivorship rule q73's
    * dedup keeps), every other member is a duplicate ATTRIBUTED to its
    * own source, and the flow matrix (origin_source → dup_source →
    * count, duplicated chars riding) says who mirrors whom. Curation
    * reads this to keep originals and to down-weight sources that are
    * mostly re-hosts; the oracle replays the same min-doc rule, so the
    * attribution itself is hash-checked.
    *
    * Scale: one fingerprint-keyed shuffle (text never shuffles — the
    * md5 does), the origin resolved by a window min over the same key,
    * and the matrix is O(sources²) rows at any corpus size.
    */
  private def q303(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(substring(col("text"), 1, 100)).as("fp"))
    val w = Window.partitionBy(col("fp"))
    f.withColumn("origin", min(struct(col("doc_id"), col("source"))).over(w))
      .filter(col("doc_id") =!= col("origin.doc_id"))
      .groupBy(col("origin.source").as("origin_source"),
        col("source").as("dup_source"))
      .agg(count(lit(1)).as("n_dups"), sum(col("n_chars")).as("dup_chars"))
      .orderBy(col("origin_source"), col("dup_source"))
  }

  private val q303Sql =
    """WITH f AS (
      |  SELECT doc_id, source, n_chars,
      |    md5(substr(text, 1, 100)) AS fp FROM documents),
      |o AS (SELECT fp, MIN(doc_id) AS odoc FROM f GROUP BY fp),
      |oo AS (SELECT o.fp, o.odoc, f.source AS origin_source
      |       FROM o JOIN f ON f.doc_id = o.odoc AND f.fp = o.fp)
      |SELECT oo.origin_source, f.source AS dup_source,
      |  CAST(COUNT(*) AS BIGINT) AS n_dups,
      |  CAST(SUM(f.n_chars) AS BIGINT) AS dup_chars
      |FROM f JOIN oo ON f.fp = oo.fp
      |WHERE f.doc_id <> oo.odoc
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q87

  /** q87: bigram language-model statistics — top-20 bigrams by count with
    * the exact scaled conditional probability `P(w2|w1) ≈ (cnt * 1e6) div
    * prefix_cnt`, where the prefix count is the bigram-marginal (sum of
    * counts sharing w1). One per-row fan-out, one partial-agg shuffle of
    * O(distinct bigrams), a window marginal over the same key prefix, and
    * a bounded top-k — the n-gram-table build a tokenizer/LM pipeline runs.
    */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .select(toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    // marginal as an aggregate joined back on w1 (q200's spelling, and
    // for the same reason): a w1-partitioned window would buffer a hot
    // first word's entire vocabulary fan-out in one window group
    val marginal = bi.groupBy(col("w1")).agg(sum(col("cnt")).as("prefix_cnt"))
    bi.join(marginal, "w1")
      .select(col("w1"), col("w2"), col("cnt"), col("prefix_cnt"),
        expr("(cnt * 1000000) div prefix_cnt").as("p_scaled"))
      .orderBy(desc("cnt"), col("w1"), col("w2"))
      .limit(20)
  }

  private val q87Sql =
    s"""WITH d AS (SELECT $toksSql AS t FROM documents),
       |bi AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2)),
       |cnts AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi GROUP BY 1, 2),
       |marg AS (
       |  SELECT w1, w2, cnt,
       |    CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS prefix_cnt
       |  FROM cnts)
       |SELECT w1, w2, cnt, prefix_cnt,
       |  (cnt * 1000000) // prefix_cnt AS p_scaled
       |FROM marg ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q88

  /** q88: corpus length profile — per-source doc counts, exact mean token
    * count, and interpolated p10/p50/p90 percentiles (both engines use
    * linear interpolation over the sorted values, and the interpolation
    * arithmetic is IEEE-identical given equal integer inputs). The
    * distribution summary that drives chunk-size / packing decisions.
    */
  private def q88(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1))).as("mean_tokens"),
        expr("percentile_cont(0.1) WITHIN GROUP (ORDER BY n_tokens)")
          .cast(DoubleType).as("p10"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens)")
          .cast(DoubleType).as("p50"),
        expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens)")
          .cast(DoubleType).as("p90"))
      .orderBy(col("source"))

  private val q88Sql =
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_tokens,
       |  CAST(quantile_cont(n_tokens, 0.1) AS DOUBLE) AS p10,
       |  CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS p50,
       |  CAST(quantile_cont(n_tokens, 0.9) AS DOUBLE) AS p90
       |FROM (SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q89

  /** q89: cross-lingual vocabulary overlap — pairwise Jaccard between
    * per-language vocabularies. Vocabularies are distinct (lang, token)
    * pairs (one dedup shuffle); pair intersections come from the token
    * self-join (shuffle keyed on token — no all-pairs stage); sizes join
    * in broadcast. The contamination / shared-vocabulary diagnostic for a
    * multilingual corpus.
    */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(col("lang").as("id"), explode(toks(col("text"))).as("e"))
      .distinct()
    val sizes = vocab.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    Jaccard.pairs(vocab, sizes, minJ = 0.0, broadcastSizes = true)
      .select(col("ida").as("la"), col("idb").as("lb"), col("inter"), col("jac"))
      .orderBy(col("la"), col("lb"))
  }

  private val q89Sql =
    s"""WITH vocab AS (
       |  SELECT DISTINCT lang, unnest($toksSql) AS tok FROM documents),
       |inter AS (
       |  SELECT a.lang AS la, b.lang AS lb, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.lang < b.lang
       |  GROUP BY 1, 2),
       |sizes AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS sz FROM vocab GROUP BY 1)
       |SELECT la, lb, inter,
       |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
       |FROM inter JOIN sizes sa ON la = sa.lang JOIN sizes sb ON lb = sb.lang
       |ORDER BY la, lb""".stripMargin

  // ---------------------------------------------------------------- q107

  /** q107: inverted-index build — term → document frequency + the first 10
    * postings (doc ids, ascending). The search/retrieval index shape: one
    * (doc, term) dedup shuffle, one partial-agg shuffle keyed on term;
    * posting lists are bounded (`slice` after `sort_array`) so no group
    * blows up on a stop word, and at 100 TB each term's full posting list
    * would stream to the index sink partition-by-partition rather than
    * collect. Only terms with df ≥ 50 are emitted (the head of the
    * vocabulary — the part a query planner caches).
    */
  private def q107(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        // serialized posting list: the driver's oracle compare hashes
        // scalar cells only, so the bounded head ships as a csv string
        concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, 10))
          .as("postings_head"))
      .filter(col("df") >= 50)
      .orderBy(col("term"))

  private val q107Sql =
    s"""SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       |  array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings_head
       |FROM (SELECT DISTINCT doc_id, unnest($toksSql) AS term FROM documents)
       |GROUP BY term HAVING COUNT(*) >= 50
       |ORDER BY term""".stripMargin

  // --------------------------------------------------------------- q276

  /** q276: INCREMENTAL index maintenance — the q107 document-frequency
    * index kept current across a q255-style version transition without
    * rebuilding: the base index is built once over committed v=1, the
    * v1→v2 CDC (added/removed doc keys, two anti joins) expands into
    * per-term +1/−1 deltas for ONLY the changed documents, and the final
    * index is base ⟗ deltas with `df + Δ` (terms falling to zero drop
    * out). The oracle builds the v2 index DIRECTLY, so any drift between
    * the incremental path and a full rebuild — a missed removal, a
    * double-counted add, a term that should have vanished — is a hash
    * mismatch; Round10Spec additionally pins incremental == in-engine
    * rebuild term-for-term.
    *
    * Scale: this is how a 100 TB search/retrieval estate stays fresh —
    * maintenance cost is O(changed docs × terms/doc) + one index-keyed
    * merge join, NOT a corpus rescan. The CDC input is exactly q255's
    * key-level diff; the same deltas drive feature-store and BM25 (df is
    * the idf denominator) refreshes.
    */
  private def q276(s: SparkSession, d: String): DataFrame = {
    val dir = graft.StagingDirs.dir(s, "incidx", d)
    graft.StagingDirs.once(dir) {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/v=1")
      graft.sources.VersionedManifest.commit(s, dir, 1, "initial load")
      docs.filter(col("doc_id") % 10 =!= 4)
        .write.mode("overwrite").parquet(s"$dir/v=2")
      graft.sources.VersionedManifest.commit(s, dir, 2, "rewrite + purge")
    }
    val v1 = graft.sources.VersionedManifest.readAt(s, dir, 1)
    val v2 = graft.sources.VersionedManifest.readAt(s, dir, 2)
    val termsOf = (df: DataFrame) =>
      df.select(col("doc_id"), explode(toks(col("text"))).as("term")).distinct()
    val base = termsOf(v1).groupBy(col("term")).agg(count(lit(1)).as("df"))
    val added = v2.join(v1.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val removed = v1.join(v2.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val deltas = termsOf(added).withColumn("dd", lit(1L))
      .unionByName(termsOf(removed).withColumn("dd", lit(-1L)))
      .groupBy(col("term")).agg(sum(col("dd")).as("delta"))
    base.join(deltas, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("df"))
      .filter(col("df") >= 50)
      .orderBy(col("term"))
  }

  private val q276Sql =
    s"""SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |FROM (SELECT DISTINCT doc_id, unnest($toksSql) AS term
       |      FROM documents WHERE doc_id % 10 != 4)
       |GROUP BY term HAVING COUNT(*) >= 50
       |ORDER BY term""".stripMargin

  // ---------------------------------------------------------------- q101

  /** q101: repetition quality filter — the Gopher-style signals that gate
    * machine-generated/boilerplate text out of a training corpus: the
    * fraction of all bigrams taken by the single most frequent bigram, and
    * the distinct-token ratio. Flags docs past either threshold. Exact
    * integer fractions (scaled by 10⁴, integer division) keep the compare
    * bit-stable. Two partial-agg shuffles of O(distinct per-doc bigrams);
    * nothing is collected.
    */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val top = doc
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).cast(LongType).as("n_bi"))
    val tok = doc.select(col("doc_id"), size(col("t")).cast(LongType).as("n_tok"),
      size(array_distinct(col("t"))).cast(LongType).as("n_distinct"))
    top.join(tok, "doc_id")
      .withColumn("bigram_frac", expr("(top_c * 10000) div n_bi"))
      .withColumn("distinct_frac", expr("(n_distinct * 10000) div n_tok"))
      .filter(col("bigram_frac") >= 700 || col("distinct_frac") <= 3300)
      .select(col("doc_id"), col("n_tok"), col("top_c"),
        col("bigram_frac"), col("distinct_frac"))
      .orderBy(col("doc_id"))
  }

  private val q101Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
       |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS b
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM dd)),
       |cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2),
       |top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c,
       |               CAST(SUM(c) AS BIGINT) AS n_bi FROM cnt GROUP BY 1),
       |tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
       |               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM dd)
       |SELECT doc_id, n_tok, top_c,
       |  (top_c * 10000) // n_bi AS bigram_frac,
       |  (n_distinct * 10000) // n_tok AS distinct_frac
       |FROM top JOIN tok USING (doc_id)
       |WHERE (top_c * 10000) // n_bi >= 700
       |   OR (n_distinct * 10000) // n_tok <= 3300
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q102

  /** q102: cross-document passage dedup — split every doc into fixed
    * 32-token passages (the paragraph stand-in for this corpus), hash each
    * with md5, and report passages shared by more than one document: the
    * boilerplate-removal pass (headers, license blocks, templated intros)
    * that document-level dedup misses. Identity travels as a 32-char hash;
    * passage text never shuffles. One partial-agg shuffle of O(passages).
    */
  private def q102(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 32) // guard: sequence(0,-1) is descending, not empty
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, CAST(size(t) div 32 AS INT) - 1)," +
          " s -> md5(array_join(slice(t, s * 32 + 1, 32), ' ')))")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("h"))

  private val q102Sql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
       |seg AS (
       |  SELECT doc_id,
       |         md5(array_to_string(t[(s * 32 + 1):(s * 32 + 32)], ' ')) AS h
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t) // 32)) AS s
       |        FROM d WHERE len(t) >= 32))
       |SELECT h, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS keeper, MAX(doc_id) AS max_doc
       |FROM seg GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY h""".stripMargin

  // --------------------------------------------------------------- q219

  /** q219: exact duplicate-SPAN detection — the substring-level dedup of
    * Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better"): slide a 16-token window at stride 1 over every document,
    * flag windows whose text occurs in ≥ 2 distinct documents, then merge
    * flagged window starts per doc into MAXIMAL duplicated spans
    * (gaps-and-islands with an OVERLAP-AWARE gap: successive starts a < b
    * merge while b − a ≤ 16, since their windows overlap below 16 and
    * touch at exactly 16 — r7 ADVICE closed: the earlier stride-1-only
    * merge double-counted tokens shared by starts 2..15 apart, letting
    * dup_ppm exceed 1,000,000). Per doc: span count, duplicated-token
    * coverage, longest span, and integer-ppm coverage — the span-level
    * signal q73 (whole-doc) and q102 (fixed 32-token passages) both miss,
    * because a duplicated paragraph rarely starts on a passage boundary.
    *
    * Window identity travels as codegen'd 64-bit `xxhash64`, never window
    * text (the q151 convention: the oracle groups raw window text, so the
    * engines diverge only on a 64-bit collision — ≈5e-6 birthday bound at
    * 10⁷ windows). A merged run of starts [a..b] covers tokens [a, b+15]
    * with each token counted ONCE, so coverage = b − a + 16 per island,
    * summed per doc, is ≤ n_tokens and dup_ppm ≤ 1,000,000 by
    * construction.
    *
    * Scale: windows are O(corpus tokens) 8-byte keys into one
    * partial-agg shuffle (distinct-doc count per hash); the flagged
    * positions semi-join back on the same key; the island window and both
    * downstream aggregates are doc-keyed — state per doc, never per
    * corpus. The suffix-array build the paper uses is a single-machine
    * construction; this is its shuffle-native equivalent.
    */
  private def q219(s: SparkSession, d: String): DataFrame = {
    val k = 16
    // graft_winhash (r15, guide §4): the stride-1 window hashes come from
    // one buffer-reusing native pass instead of the interpreted
    // transform/slice/array_join HOF that allocated a slice array and a
    // joined string per window (bit-identical xxhash64 — TextKernelsSpec).
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), col("source"), size(col("t")).as("n_tokens"),
        posexplode(expr(s"graft_winhash(t, $k)")).as(Seq("pos", "h")))
    val hot = docs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"))
    // overlap-aware islands: a start opens a NEW island only when it is
    // more than k past the previous one (lag NULL on the first row → 1).
    // Two windows over one doc-keyed partitioning: a single exchange, the
    // second window reuses the first's sort.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = docs.join(hot, Seq("h"), "left_semi")
      .withColumn("nw",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("isl", sum(col("nw")).over(byDoc))
    isl.groupBy(col("doc_id"), col("source"), col("n_tokens"), col("isl"))
      .agg((max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("len"))
      .groupBy(col("doc_id"), col("source"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("len")).as("dup_tokens"),
        max(col("len")).as("longest_span"))
      .select(col("doc_id"), col("source"), col("n_spans"),
        col("dup_tokens"), col("longest_span"),
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  private val q219Sql =
    s"""WITH d AS (
       |  SELECT doc_id, source, $toksSql AS t FROM documents
       |  WHERE len($toksSql) >= 16),
       |w AS (
       |  SELECT doc_id, source, n_tokens, pos,
       |         array_to_string(t[(pos + 1):(pos + 16)], ' ') AS g
       |  FROM (SELECT doc_id, source, len(t) AS n_tokens, t,
       |               unnest(range(0, len(t) - 15)) AS pos
       |        FROM d)),
       |hot AS (SELECT g FROM w GROUP BY g
       |        HAVING COUNT(DISTINCT doc_id) > 1),
       |flags AS (
       |  SELECT doc_id, source, n_tokens, pos,
       |         CASE WHEN pos - LAG(pos) OVER
       |                (PARTITION BY doc_id ORDER BY pos) <= 16
       |              THEN 0 ELSE 1 END AS nw
       |  FROM w JOIN hot USING (g)),
       |isl AS (
       |  SELECT doc_id, source, n_tokens, pos,
       |         SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM flags),
       |sp AS (
       |  SELECT doc_id, source, n_tokens,
       |         MAX(pos) - MIN(pos) + 16 AS len
       |  FROM isl GROUP BY doc_id, source, n_tokens, isl)
       |SELECT doc_id, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(len) AS BIGINT) AS dup_tokens,
       |  CAST(MAX(len) AS BIGINT) AS longest_span,
       |  CAST(SUM(len) * 1000000 // n_tokens AS BIGINT) AS dup_ppm
       |FROM sp GROUP BY doc_id, source, n_tokens
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q200

  /** q200: per-source LM fluency scoring — score every document under the
    * corpus's own bigram model (q87's table, un-truncated) as the mean
    * scaled conditional probability of its bigrams, then roll up per
    * source: doc count, mean fluency, and how many docs fall under the
    * low-fluency gate. The perplexity-filter shape of a training-data
    * pipeline (Wenzek et al., CCNet) with the n-gram LM standing in for
    * the 5-gram KenLM — all integer (`p_scaled = cnt·10⁶ div prefix_cnt`,
    * per-doc mean by integer div), so both engines hash-match without a
    * cross-engine libm log.
    *
    * Gate: fluency < 32000, calibrated to the fixture's 30322–49077 range
    * (flags 10 of 500 docs); a deployment calibrates it per corpus the
    * same way.
    *
    * Scale: the LM table is distinct-bigram-sized and partial-aggregates
    * in one bigram-keyed shuffle; the scoring join meets doc bigrams and
    * the table on that same key (no broadcast assumption — a web-scale
    * bigram table does not fit one executor); the per-doc mean then
    * partial-aggregates on doc_id and the source rollup is |sources|
    * rows. Everything downstream of the scan is linear in corpus tokens.
    */
  private def q200(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
    // the bigram-marginal joins back on w1 rather than running as a
    // w1-partitioned window: a hot first word ("the" in 5% of bigrams)
    // would make one window GROUP buffer a vocabulary-sized run, while
    // the aggregate carries one row per distinct w1 and the join streams
    val bigrams = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val marginal = bigrams.groupBy(col("w1"))
      .agg(sum(col("cnt")).as("prefix_cnt"))
    val lm = bigrams.join(marginal, "w1")
      .select(col("w1"), col("w2"),
        expr("(cnt * 1000000) div prefix_cnt").as("p"))
    bi.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("source"))
      .agg(expr("sum(p) div count(1)").as("fluency"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(fluency) div count(1)").as("mean_fluency"),
        expr("count_if(fluency < 32000)").as("n_low"))
      .orderBy(col("source"))
  }

  private val q200Sql =
    s"""WITH d AS (SELECT doc_id, source, $toksSql AS t FROM documents),
       |bi AS (
       |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
       |        FROM d WHERE len(t) >= 2)),
       |lm AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi GROUP BY 1, 2),
       |lmp AS (
       |  SELECT w1, w2, (cnt * 1000000)
       |    // CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS p
       |  FROM lm),
       |ds AS (
       |  SELECT doc_id, source, CAST(SUM(p) AS BIGINT) // COUNT(*) AS fluency
       |  FROM bi JOIN lmp USING (w1, w2) GROUP BY 1, 2)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(fluency) AS BIGINT) // COUNT(*) AS mean_fluency,
       |  CAST(COUNT(CASE WHEN fluency < 32000 THEN 1 END) AS BIGINT) AS n_low
       |FROM ds GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q201

  /** q201: DSIR-style importance weights — hashed-unigram importance
    * scoring of every document against a target distribution (the
    * English slice standing in for "high-quality domain"), the
    * data-selection pass (Xie et al. 2023) that upsamples target-like
    * raw documents. Each token hashes into 4096 md5 buckets (q69's
    * seed-free conv spelling, so the featurizer is reproducible across
    * engines, runs and cluster sizes); a document's weight is the mean
    * over its tokens of the scaled probability GAP `tgt_share − all_share`
    * (each side `cnt·10⁶ div total` — the integer-exact stand-in for the
    * log-likelihood ratio, same ranking direction, no libm). Output:
    * the 20 highest-weight docs. On the fixture the English slice ranks
    * highest (mean +61 vs negative for every other language) — the
    * selection signal the pass exists for.
    *
    * Scale: both feature tables are ≤ 4096 rows regardless of corpus
    * size — they broadcast; scoring is a map-side join on the token
    * stream plus one doc_id-keyed partial agg, and the top-20 is
    * TakeOrderedAndProject. Nothing anywhere is corpus-sized but the
    * scan itself.
    */
  private def q201(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(toks(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"), (Digest.bucket(col("w"), 1, 4) % 4096).as("f"))
    val tgt = tf.filter(col("lang") === "en")
      .groupBy(col("f")).agg(count(lit(1)).as("tc"))
    val all = tf.groupBy(col("f")).agg(count(lit(1)).as("ac"))
    val tot = tgt.agg(sum(col("tc")).as("tT"))
      .crossJoin(all.agg(sum(col("ac")).as("aT")))
    val feat = all.join(tgt, Seq("f"), "left").na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(tot))
      .select(col("f"),
        (expr("(tc * 1000000) div tT") - expr("(ac * 1000000) div aT")).as("dw"))
    tf.join(broadcast(feat), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(dw) div count(1)").as("w_scaled"))
      .orderBy(desc("w_scaled"), col("doc_id"))
      .limit(20)
  }

  private val q201Sql = {
    val bucket = (1 to 4).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(w), $i, 1)) - 1) * ${1L << ((4 - i) * 4)}"
    }.mkString("(", " + ", ")")
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS w FROM documents),
       |tf AS (SELECT doc_id, lang, $bucket % 4096 AS f FROM tok),
       |tgt AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS tc FROM tf
       |        WHERE lang = 'en' GROUP BY 1),
       |al AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS ac FROM tf GROUP BY 1),
       |tot AS (SELECT CAST((SELECT SUM(tc) FROM tgt) AS BIGINT) AS tT,
       |               CAST((SELECT SUM(ac) FROM al) AS BIGINT) AS aT),
       |feat AS (
       |  SELECT al.f AS f, (COALESCE(tc, 0) * 1000000) // tT
       |    - (ac * 1000000) // aT AS dw
       |  FROM al LEFT JOIN tgt USING (f) CROSS JOIN tot)
       |SELECT doc_id, lang, CAST(SUM(dw) AS BIGINT) // COUNT(*) AS w_scaled
       |FROM tf JOIN feat USING (f) GROUP BY 1, 2
       |ORDER BY w_scaled DESC, doc_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- q214

  /** q214: incremental snapshot dedup — the nightly-ingest shape: the
    * already-accepted corpus ("snapshot", the q69 80 % hash split
    * standing in for yesterday's state) publishes only its FINGERPRINT
    * set; each delta document is classified as a duplicate of the
    * snapshot, a duplicate within the delta (first arrival by doc_id
    * keeps), or unique. Fingerprint = md5 of the 32-token prefix (q102's
    * passage grain) — the cheap first-pass key an ingest gate runs
    * before any near-dup machinery.
    *
    * Scale: the snapshot side ships fingerprints only, never text — at
    * 100 TB the accepted-corpus state a dedup gate keeps IS this
    * fingerprint set. Both joins and the first-arrival aggregate cluster
    * on the fingerprint key over the delta (one exchange each side,
    * partial-agged), and the class rollup is 3 rows.
    */
  /** (fp, bucket)-fingerprinted documents — the shared front half of the
    * q214/q216 snapshot gate.
    */
  private def snapshotFingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        md5(concat_ws(" ", slice(toks(col("text")), 1, 32))).as("fp"),
        Digest.docBucket(100).as("bucket"))

  /** Classify each delta doc against a snapshot fingerprint set (a 1-col
    * `fp` frame) — shared by the derived (q214) and persisted (q216)
    * spellings, so the two are the same plan from the join down.
    */
  private def gateClasses(delta: DataFrame, snapFp: DataFrame): DataFrame = {
    val snap = snapFp.distinct().withColumn("known", lit(1))
    val winner = delta.groupBy(col("fp")).agg(min(col("doc_id")).as("first_id"))
    delta.join(snap, Seq("fp"), "left")
      .join(winner, "fp")
      .withColumn("class",
        when(col("known") === 1, "dup_of_snapshot")
          .when(col("doc_id") =!= col("first_id"), "dup_within_delta")
          .otherwise("unique"))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("class"))
  }

  private def q214(s: SparkSession, d: String): DataFrame = {
    val f = snapshotFingerprints(s, d)
    gateClasses(f.filter(col("bucket") >= 80),
      f.filter(col("bucket") < 80).select(col("fp")))
  }

  private val q214Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 7)
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |    md5(array_to_string(($toksSql)[1:32], ' ')) AS fp,
       |    CAST($hex7 AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |snap AS (SELECT DISTINCT fp FROM f WHERE bucket < 80),
       |delta AS (SELECT * FROM f WHERE bucket >= 80),
       |w AS (SELECT fp, MIN(doc_id) AS first_id FROM delta GROUP BY 1)
       |SELECT CASE WHEN s.fp IS NOT NULL THEN 'dup_of_snapshot'
       |            WHEN d.doc_id <> w.first_id THEN 'dup_within_delta'
       |            ELSE 'unique' END AS class,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
       |FROM delta d LEFT JOIN snap s ON d.fp = s.fp
       |JOIN w ON d.fp = w.fp
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q216: the PERSISTED spelling of the q214 gate — the real nightly
    * contract. q214 derives the accepted-corpus fingerprint set from the
    * same scan in the same job; here the snapshot job PUBLISHES it as
    * parquet (fingerprints only — the accepted-corpus state a dedup gate
    * actually keeps) and the delta job reads it back, completing the
    * write→re-read cycle (the reference's S7→S9 round trip,
    * `main.py:194` → the `data` dir). Same classifier, same oracle as
    * q214; CorpusGateSpec pins row-identity between the two spellings
    * and the snapshot-side parquet FileScan in the plan.
    *
    * Scale: the published artifact is one `fp` column — at 100 TB of
    * text the snapshot parquet is the md5 set, ~2 % of corpus bytes, and
    * the delta job's snapshot side scans only it. Staging dir keyed by
    * applicationId + sanitized dataset path (q203's non-racing scheme).
    */
  private def q216(s: SparkSession, d: String): DataFrame = {
    val dir = graft.StagingDirs.dir(s, "snapfp", d)
    val f = snapshotFingerprints(s, d)
    f.filter(col("bucket") < 80).select(col("fp")).distinct()
      .write.mode("overwrite").parquet(dir)
    gateClasses(f.filter(col("bucket") >= 80), Tables.parquet(s, dir))
  }

  // --------------------------------------------------------------- q224

  /** BM25 "more-like-this" ranks for the first `nq` docs as queries:
    * (qid, nid, lrank) with lrank ≤ `topk` — the lexical leg shared by
    * q224's presentation and q225's hybrid fusion.
    *
    * BM25's defining parts — tf saturation and document-length
    * normalization (k1 = 1.2, b = 0.75) — are spelled EXACTLY in scaled
    * integers: with `avgdl_milli = (1000·T) div N` precomputed (T = corpus
    * tokens, N = docs), the per-term gain
    * `tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)` becomes
    * `(10⁶·22·tf·am) div (10·am·tf + 3·am + 9000·dl)` — every operand an
    * integer. The widest intermediate is 2.2·10⁷·tf·am, so the real
    * overflow bound is `tf·avgdl_milli < 2⁶³ / 2.2·10⁷ ≈ 4.2·10¹¹` —
    * set by DOCUMENT length (tf ≤ dl) and average length, NOT corpus
    * size: a corpus would need a single term repeated ~10⁸ times inside
    * one document alongside a ~4000-token average before this wraps
    * (DuckDB errors on the same overflow; Spark would wrap silently, so
    * the bound is stated here rather than discovered). The idf factor
    * follows
    * q66's established linear-idf convention (`(1000·(2(N−df)+1)) div
    * (2df+1)`, the exact integer odds that the BM25 log dampens;
    * monotone in true idf, so single-term orderings agree) — the one
    * deliberate deviation, because a libm `ln` in either engine would
    * break bit-exact cross-engine comparison (the q200 rule).
    *
    * Scale: tf/df/dl are the q66 partial-agg shuffles (O(corpus tokens)
    * once, reused across any query batch). The query side is `nq` doc
    * term-sets — broadcast — so the probe is a map-side semi join over
    * tf (only the posting lists of query terms are touched, the
    * inverted-index discipline), one (qid, doc) partial agg, and a
    * bounded per-query top-k window. Per-batch cost is O(Σ postings of
    * query terms) ≤ O(corpus tf), never n²; a production engine bounds
    * hot-term postings further with WAND/impact ordering, which prunes
    * candidates this exact spelling keeps.
    */
  private[operators] def bm25Ranks(s: SparkSession, d: String,
                                   nq: Int = 5, topk: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val consts = dl.agg(
      count(lit(1)).as("n"),
      expr("(1000 * sum(dl)) div count(1)").as("am"))
    val qterms = tf.filter(col("doc_id") < nq)
      .select(col("doc_id").as("qid"), col("term"))
    val postings = tf.join(broadcast(qterms), Seq("term"))
      .filter(col("qid") =!= col("doc_id"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(consts))
    postings
      .withColumn("gain_ppm",
        expr("(1000000 * 22 * tf * am) div (10 * am * tf + 3 * am + 9000 * dl)"))
      .withColumn("idf_milli",
        expr("(1000 * (2 * (n - df) + 1)) div (2 * df + 1)"))
      .groupBy(col("qid"), col("doc_id").as("nid"))
      .agg(sum(col("idf_milli") * col("gain_ppm")).as("score"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("nid")))
        .cast(LongType))
      .filter(col("lrank") <= topk)
      .select(col("qid"), col("nid"), col("lrank"), col("score"))
  }

  /** DuckDB spelling of [[bm25Ranks]] — a CTE block ending in relation
    * `lex(qid, nid, lrank, score)`, shared by q224's and q225's oracles.
    */
  private[operators] def bm25RanksSql(nq: Int = 5, topk: Int = 20): String =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |                  CAST((1000 * SUM(dl)) // COUNT(*) AS BIGINT) AS am
       |           FROM dl),
       |qterms AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id < $nq),
       |scored AS (
       |  SELECT qid, tf.doc_id AS nid,
       |    SUM(((1000 * (2 * (n - df) + 1)) // (2 * df + 1)) *
       |        ((1000000 * 22 * tf * am) // (10 * am * tf + 3 * am + 9000 * dl)))
       |      AS score
       |  FROM tf JOIN qterms USING (term)
       |  JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN consts
       |  WHERE qid <> tf.doc_id
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT qid, nid, lrank, score FROM (
       |    SELECT qid, nid, CAST(ROW_NUMBER() OVER (
       |             PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS lrank,
       |           CAST(score AS BIGINT) AS score
       |    FROM scored)
       |  WHERE lrank <= $topk)""".stripMargin

  // --------------------------------------------------------------- q311

  /** q311: RETRIEVAL QUALITY METRICS — annotation-free IR evaluation of
    * the BM25 leg: weak relevance judgments come from the OTHER modality
    * (a doc is "relevant" to query q iff it sits in q's exact
    * embedding-cosine top-10 — the pooling trick retrieval teams use when
    * no human qrels exist), and the report per query is precision@10
    * (`hits`) and the reciprocal rank of the first relevant hit
    * (`rr_milli = 1000 div first_rank`, exact integer — no logs, so the
    * metric is bit-identical cross-engine; nDCG's log2 discount is
    * deliberately avoided for the same reason as q200's no-libm rule).
    * Docs without an embedding are unjudged → irrelevant, the standard
    * pooling caveat. Completes the eval dashboard: q304 measures the ANN
    * index against exact vectors, q311 measures the lexical ranking
    * against the semantic neighborhood.
    *
    * Scale: BM25 ranks ride [[bm25Ranks]]'s posting-list discipline; the
    * relevance leg is q80's shape (query slice broadcasts, corpus
    * streams once); the metric join touches 10 rows per query.
    */
  private def q311(s: SparkSession, d: String): DataFrame = {
    val lex = bm25Ranks(s, d).filter(col("lrank") <= 10)
      .select(col("qid"), col("nid"), col("lrank"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("v"))
    val qv = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("rqid"), col("v").as("qv"))
    val rel = emb.join(broadcast(qv), col("rqid") =!= col("vec_id"))
      .select(col("rqid"), col("vec_id").as("rid"),
        (expr("graft_dot(qv, v)").cast(DoubleType) /
          (sqrt(expr("graft_dot(qv, qv)")) * sqrt(expr("graft_dot(v, v)")))).as("cos"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("rqid")).orderBy(desc("cos"), col("rid"))))
      .filter(col("r") <= 10).select(col("rqid"), col("rid"))
    lex.join(broadcast(rel),
        col("qid") === col("rqid") && col("nid") === col("rid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("rid")).as("hits"),
        min(when(col("rid").isNotNull, col("lrank"))).as("first_rel"))
      .select(col("qid"), col("hits"),
        coalesce(expr("1000 div first_rel"), lit(0L)).as("rr_milli"))
      .orderBy(col("qid"))
  }

  private val q311Sql =
    s"""WITH ${bm25RanksSql()},
       |e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |qe AS (SELECT vec_id AS rqid, v AS qv FROM e WHERE vec_id < 5),
       |rels AS (
       |  SELECT rqid, rid FROM (
       |    SELECT qe.rqid, e.vec_id AS rid,
       |      ROW_NUMBER() OVER (PARTITION BY qe.rqid ORDER BY
       |        CAST(list_sum(list_transform(range(1, len(qe.qv)+1), i -> qe.qv[i]*e.v[i])) AS DOUBLE)
       |          / (sqrt(list_sum(list_transform(qe.qv, x -> x*x)))
       |             * sqrt(list_sum(list_transform(e.v, x -> x*x)))) DESC,
       |        e.vec_id) AS r
       |    FROM e CROSS JOIN qe WHERE qe.rqid <> e.vec_id)
       |  WHERE r <= 10),
       |lex10 AS (SELECT qid, nid, lrank FROM lex WHERE lrank <= 10)
       |SELECT l.qid, CAST(COUNT(r.rid) AS BIGINT) AS hits,
       |  CAST(COALESCE(1000 // MIN(CASE WHEN r.rid IS NOT NULL THEN l.lrank END), 0)
       |    AS BIGINT) AS rr_milli
       |FROM lex10 l LEFT JOIN rels r ON l.qid = r.rqid AND l.nid = r.rid
       |GROUP BY l.qid ORDER BY l.qid""".stripMargin

  // --------------------------------------------------------------- q320

  /** Position-discount table for NDCG@10: `w_i = round(10⁶ / log2(i+1))`,
    * computed ONCE in Scala and injected as literals into BOTH the Spark
    * plan and the DuckDB oracle — the one libm evaluation happens at plan
    * build, never per row, so the metric is exact integer arithmetic in
    * both engines (the same shared-constant trick as q306's MMR weights).
    */
  private val ndcgW: Seq[Long] = (1 to 10).map(i =>
    math.round(1000000.0 / (math.log(i + 1.0) / math.log(2.0))))

  /** q320's graded weak qrels are always the cosine top-10 in bands
    * (ranks 1–3 → gain 7, 4–6 → 3, 7–10 → 1 — the 2^g−1 convention), so
    * the ideal gain sequence is FIXED and IDCG is one shared constant.
    */
  private val ndcgIdcg: Long =
    Seq(7L, 7L, 7L, 3L, 3L, 3L, 1L, 1L, 1L, 1L).zip(ndcgW)
      .map { case (g, w) => g * w }.sum

  /** q320: EXACT NDCG@10 — the graded-relevance metric that completes the
    * annotation-free IR dashboard (q311's P@10 + RR, q304's ANN recall):
    * the BM25 top-10 scored against GRADED pseudo-qrels — per query, the
    * 10 docs sharing the most DISTINCT terms with it (an exact integer,
    * so the qrel set is bit-deterministic), banded ranks 1–3 → gain 7,
    * 4–6 → 3, 7–10 → 1 (the 2^g−1 convention). Shared-term overlap is
    * correlated with but NOT identical to BM25 (no idf, no length
    * normalization), so NDCG lands strictly between 0 and 1 — the gap IS
    * the measurement: how much BM25's weighting re-orders raw overlap.
    * `dcg = Σ gain·w_lrank`, `ndcg_ppm = dcg·10⁶ div IDCG` with both the
    * discount table and IDCG compile-time constants shared with the
    * oracle, so the ranking-quality number is hash-checked — no float
    * log anywhere near the data.
    *
    * Scale: both legs are q224's broadcast-query postings probes —
    * work is O(query-term postings), the metric join O(queries·10).
    */
  private def q320(s: SparkSession, d: String): DataFrame = {
    val lex = bm25Ranks(s, d).filter(col("lrank") <= 10)
      .select(col("qid"), col("nid"), col("lrank"))
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
    val qterms = terms.filter(col("doc_id") < 5)
      .select(col("doc_id").as("rqid"), col("term"))
    val rel = terms.select(col("doc_id").as("rid"), col("term"))
      .join(broadcast(qterms), Seq("term"))
      .filter(col("rqid") =!= col("rid"))
      .groupBy(col("rqid"), col("rid"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("rqid")).orderBy(desc("shared"), col("rid"))))
      .filter(col("r") <= 10)
      .select(col("rqid"), col("rid"),
        expr("CASE WHEN r <= 3 THEN 7L WHEN r <= 6 THEN 3L ELSE 1L END").as("gain"))
    val wArr = s"array(${ndcgW.mkString("L, ")}L)"
    lex.join(broadcast(rel),
        col("qid") === col("rqid") && col("nid") === col("rid"), "left")
      .withColumn("contrib",
        coalesce(col("gain"), lit(0L)) *
          expr(s"element_at($wArr, CAST(lrank AS INT))"))
      .groupBy(col("qid"))
      .agg(sum(col("contrib")).as("dcg"))
      .withColumn("ndcg_ppm", expr(s"dcg * 1000000 div ${ndcgIdcg}L"))
      .orderBy(col("qid"))
  }

  private val q320Sql = {
    val wList = s"[${ndcgW.mkString(", ")}]"
    s"""WITH ${bm25RanksSql()},
       |rels AS (
       |  SELECT rqid, rid,
       |    CASE WHEN r <= 3 THEN 7 WHEN r <= 6 THEN 3 ELSE 1 END AS gain
       |  FROM (
       |    SELECT rqid, rid, ROW_NUMBER() OVER (PARTITION BY rqid
       |        ORDER BY shared DESC, rid) AS r
       |    FROM (
       |      SELECT q.doc_id AS rqid, c.doc_id AS rid,
       |        CAST(COUNT(*) AS BIGINT) AS shared
       |      FROM tf q JOIN tf c ON q.term = c.term
       |      WHERE q.doc_id < 5 AND q.doc_id <> c.doc_id
       |      GROUP BY 1, 2))
       |  WHERE r <= 10),
       |lex10 AS (SELECT qid, nid, lrank FROM lex WHERE lrank <= 10)
       |SELECT l.qid,
       |  CAST(SUM(COALESCE(r.gain, 0) * $wList[CAST(l.lrank AS INT)]) AS BIGINT) AS dcg,
       |  CAST(SUM(COALESCE(r.gain, 0) * $wList[CAST(l.lrank AS INT)]) * 1000000
       |    // $ndcgIdcg AS BIGINT) AS ndcg_ppm
       |FROM lex10 l LEFT JOIN rels r ON l.qid = r.rqid AND l.nid = r.rid
       |GROUP BY l.qid ORDER BY l.qid""".stripMargin
  }

  // --------------------------------------------------------------- q229

  /** Build the vocabulary and run the merge chain over it (shared by
    * q229/q234) with shuffle partitions sized to the documents input
    * ([[graft.GraftSession.inputParts]], guide §2.2): the chain's working
    * set is the distinct-word vocabulary — a sliver of the corpus — and
    * each of its 8 argmax jobs pays task-launch overhead for every
    * shuffle partition. Floor 2, not 1, for the same
    * maxSinglePartitionBytes escape-hatch reason as [[components]].
    */
  private def withBpeParts[T](s: SparkSession, d: String)(body: SparkSession => T): T =
    withConf(s, "spark.sql.shuffle.partitions" ->
      inputParts(s, s"$d/documents.parquet", 2).toString)(body)

  /** One BPE merge iteration over a (w, freq, s) vocabulary — s is the
    * word's current SYMBOL string (space-joined; symbols are space-free
    * by construction since words come from whitespace tokenization).
    * Returns (next vocabulary, this step's 1-row merge table).
    *
    * The global argmax pair stays IN-PLAN (1-row broadcast back into the
    * merge transformation — never a driver collect), and non-overlapping
    * left-to-right pair replacement — the part of BPE that is genuinely
    * sequential WITHIN a word — is spelled with gaps-and-islands over the
    * marked positions: inside each maximal run of consecutive matches,
    * keep every other one starting at the first (a run 'a a a a' under
    * merge 'a a' yields 'aa aa', exactly the scan semantics). Everything
    * rides ONE word-keyed partitioning: the lead, the island windows and
    * the rebuild group share it with no extra exchange.
    */
  /** Run the BPE merge chain to `maxSteps` over a checkpointed
    * (w, <carry…>, s) vocabulary; returns the final vocabulary PLAN (the
    * merges applied as stacked projections over the one checkpoint — never
    * re-materialized per step) and the adopted merge table
    * (step, pair, Σweight).
    *
    * Fused spelling (r15, guide §4 + §2.4 + §5): the pair stream and the
    * non-overlapping left-to-right merge are pure per-word functions,
    * computed by the native graft_bpe_pairs / graft_bpe_merge kernels
    * (bit-identical to the posexplode → lead window → pair concat and the
    * marked gaps-and-islands window rebuild they replace — TextKernelsSpec
    * pins both on the real vocabulary and on adversarial overlap runs).
    * Per step this removes the word-keyed window sort, THREE island
    * windows, the groupBy(w) rebuild exchange, and BOTH per-step
    * localCheckpoint materializations: the only distributed action per
    * step is the 1-row argmax itself (map-side-combined pair partials →
    * limit 1), whose single row comes back via the same driver round-trip
    * the old `best.isEmpty` probe already paid — 1 job per step instead
    * of 3, and no executor-storage copy of the vocabulary per step. The
    * argmax is genuinely sequential (step k's counts depend on step
    * k−1's merge), so 8 driver round-trips of ONE ROW each is the
    * scale-independent floor.
    */
  private def bpeChain(vocab0: DataFrame, maxSteps: Int, weight: String,
                       carry: Seq[String]): (DataFrame, Seq[(Long, String, Long)]) = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var v = vocab0
    var k = 1
    var exhausted = false
    while (k <= maxSteps && !exhausted) {
      val top = v
        .select(explode(expr("graft_bpe_pairs(s)")).as("pair"), col(weight))
        .groupBy(col("pair"))
        .agg(sum(col(weight)).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        merges += ((k.toLong, top(0).getString(0), top(0).getLong(1)))
        v = v.select((col("w") +: carry.map(col)) :+
          call_function("graft_bpe_merge", col("s"), lit(top(0).getString(0)))
            .as("s"): _*)
        k += 1
      }
    }
    (v, merges.toSeq)
  }

  /** q229: BPE tokenizer TRAINING — q166 (one weighted pair count) run to
    * completion for 8 merges: count adjacent symbol pairs over the
    * frequency-weighted distinct-word vocabulary, adopt the argmax pair
    * (ties to the lexicographically first), apply it non-overlapping
    * left-to-right in every word, repeat on the MERGED symbols — so later
    * steps learn multi-character units ('t h e' → 'th e' → 'the'), which
    * is what separates training from q166's single step. Output is the
    * ordered merge table (step, pair, n_occurrences) — the artifact a
    * tokenizer ships.
    *
    * Scale: each step is one |vocab|-keyed shuffle (explode runs over
    * DISTINCT words; corpus frequency is a multiplier, the q166
    * discipline) + a 1-row broadcast back. The 8-step chain
    * localCheckpoints per step — the q85 iterative discipline — so plan
    * depth stays constant; CacheHygiene releases the blocks after the
    * query. The oracle replays all 8 steps as chained CTEs generated by
    * the same loop, so both engines walk the identical merge sequence.
    */
  private def q229(s: SparkSession, d: String): DataFrame = {
    val chars = expr(
      "array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')")
    // the merge table IS the output: 8 argmax rows, one driver round-trip
    // each (the old best.isEmpty probe in driver terms), exhaustion
    // short-circuited identically (no adjacent pair remains ⇒ stop before
    // the engines could diverge on an empty argmax)
    val (_, merges) = withBpeParts(s, d) { s =>
      val vocab = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .withColumn("s", chars)
        .localCheckpoint()
      bpeChain(vocab, 8, "freq", Seq("freq"))
    }
    import s.implicits._
    merges.toDF("step", "pair", "n_occurrences")
      .orderBy(col("step"))
  }

  private val q229Sql = {
    val v0 =
      s"""v0 AS (
         |  SELECT w, freq,
         |    array_to_string(list_transform(range(1, length(w)+1),
         |      i -> substring(w, CAST(i AS INT), 1)), ' ') AS s
         |  FROM (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
         |        FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |        GROUP BY 1))""".stripMargin
    val steps = (1 to 8).map { k =>
      s"""m$k AS (
         |  SELECT w, freq, pos, arr[CAST(pos AS INT)] AS sym,
         |    lead(arr[CAST(pos AS INT)]) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM (SELECT w, freq, string_split(s, ' ') AS arr,
         |          unnest(range(1, len(string_split(s, ' '))+1)) AS pos
         |        FROM v${k - 1})),
         |b$k AS (
         |  SELECT sym || ' ' || nxt AS pair, SUM(freq) AS cnt FROM m$k
         |  WHERE nxt IS NOT NULL GROUP BY 1
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |p$k AS (
         |  SELECT *, mark AND (pos - MIN(pos) OVER (PARTITION BY w, run)) % 2 = 0 AS keep
         |  FROM (
         |    SELECT *, CASE WHEN mark THEN
         |        pos - ROW_NUMBER() OVER (PARTITION BY w, mark ORDER BY pos) END AS run
         |    FROM (SELECT *, COALESCE(sym || ' ' || nxt = (SELECT pair FROM b$k), false) AS mark
         |          FROM m$k))),
         |v$k AS (
         |  SELECT w, freq,
         |    string_agg(CASE WHEN keep THEN sym || nxt ELSE sym END, ' ' ORDER BY pos) AS s
         |  FROM (SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY w ORDER BY pos), false) AS pk
         |        FROM p$k)
         |  WHERE NOT pk GROUP BY w, freq)""".stripMargin
    }
    val union = (1 to 8)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, pair, CAST(cnt AS BIGINT) AS n_occurrences FROM b$k")
      .mkString("\nUNION ALL\n")
    s"WITH $v0,\n${steps.mkString(",\n")}\n$union\nORDER BY step"
  }

  // --------------------------------------------------------------- q234

  /** q234: BPE ENCODE — the pass a training-data pipeline actually runs
    * at scale: APPLY a trained merge sequence to tokenize the corpus
    * (q229 trains; training without encode is half a tokenizer). The
    * tokenizer trains on the EVEN doc_ids and encodes EVERY document, a
    * genuine train→serve split, spelled as ONE merge chain: the vocab
    * carries two weights per distinct word — train-half token frequency
    * (`freq_t`, drives each step's argmax exactly as if trained on the
    * even half alone: encode-only words weigh 0 in the pair counts) and
    * full-corpus frequency — so the 8 [[bpeStep]]s both LEARN the merges
    * and APPLY them to all words in a single pass, half the work of two
    * chains. Output is per-document encode statistics: words, chars,
    * tokens after merging, multi-character (merged) tokens, and OOV
    * tokens — single characters the training half never saw (the only
    * OOV a byte/char-level BPE can have; merged units are in-vocabulary
    * by construction).
    *
    * Scale: the merge chain is q229's (|distinct words|-keyed shuffles,
    * 1-row argmax broadcast per step, localCheckpoint per step); the
    * encode join keys corpus tokens to the |vocab| segmentation table on
    * the word — the standard trained-tokenizer serve shape (at 100 TB the
    * segmentation table is the artifact you'd persist and the token
    * stream shuffles once on `w`); per-doc stats partial-aggregate on
    * doc_id. The training charset rides as one collect_set broadcast.
    */
  private def q234(s: SparkSession, d: String): DataFrame = {
    val chars = expr(
      "array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')")
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val (vocab0, vocab) = withBpeParts(s, d) { s =>
      val v0 = rebind(s, words)
        .groupBy(col("w"))
        .agg(count(when(col("doc_id") % 2 === 0, 1)).as("freq_t"),
          count(lit(1)).as("freq_a"))
        .withColumn("s", chars)
        .localCheckpoint()
      (v0, bpeChain(v0, 8, "freq_t", Seq("freq_t", "freq_a"))._1)
    }
    // charset of the TRAINING half, captured before any merge
    val trainChars = vocab0.filter(col("freq_t") > 0)
      .select(explode(split(col("s"), " ")).as("c")).distinct()
      .agg(collect_set(col("c")).as("cs"))
    val wstats = vocab
      .crossJoin(broadcast(trainChars))
      .withColumn("syms", split(col("s"), " "))
      .select(col("w"),
        size(col("syms")).cast(LongType).as("n_tok_w"),
        size(filter(col("syms"), x => length(x) > 1))
          .cast(LongType).as("n_merged_w"),
        size(filter(col("syms"),
          x => length(x) === 1 && !array_contains(col("cs"), x)))
          .cast(LongType).as("n_oov_w"))
    words.join(wstats, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("n_tok_w")).as("n_tokens"),
        sum(col("n_merged_w")).as("n_merged_tokens"),
        sum(col("n_oov_w")).as("n_oov_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[q234]]: the q229 CTE template with the two-weight
    * vocabulary (argmax over `freq_t` only), then the charset, the
    * per-word stats over the final segmentation, and the per-doc rollup.
    */
  private val q234Sql = {
    val v0 =
      s"""v0 AS (
         |  SELECT w, freq_t, freq_a,
         |    array_to_string(list_transform(range(1, length(w)+1),
         |      i -> substring(w, CAST(i AS INT), 1)), ' ') AS s
         |  FROM (SELECT tok AS w,
         |          CAST(COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT) AS freq_t,
         |          CAST(COUNT(*) AS BIGINT) AS freq_a
         |        FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |        GROUP BY 1))""".stripMargin
    val steps = (1 to 8).map { k =>
      s"""m$k AS (
         |  SELECT w, freq_t, freq_a, pos, arr[CAST(pos AS INT)] AS sym,
         |    lead(arr[CAST(pos AS INT)]) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM (SELECT w, freq_t, freq_a, string_split(s, ' ') AS arr,
         |          unnest(range(1, len(string_split(s, ' '))+1)) AS pos
         |        FROM v${k - 1})),
         |b$k AS (
         |  SELECT sym || ' ' || nxt AS pair, SUM(freq_t) AS cnt FROM m$k
         |  WHERE nxt IS NOT NULL GROUP BY 1
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |p$k AS (
         |  SELECT *, mark AND (pos - MIN(pos) OVER (PARTITION BY w, run)) % 2 = 0 AS keep
         |  FROM (
         |    SELECT *, CASE WHEN mark THEN
         |        pos - ROW_NUMBER() OVER (PARTITION BY w, mark ORDER BY pos) END AS run
         |    FROM (SELECT *, COALESCE(sym || ' ' || nxt = (SELECT pair FROM b$k), false) AS mark
         |          FROM m$k))),
         |v$k AS (
         |  SELECT w, freq_t, freq_a,
         |    string_agg(CASE WHEN keep THEN sym || nxt ELSE sym END, ' ' ORDER BY pos) AS s
         |  FROM (SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY w ORDER BY pos), false) AS pk
         |        FROM p$k)
         |  WHERE NOT pk GROUP BY w, freq_t, freq_a)""".stripMargin
    }
    s"""WITH $v0,
       |${steps.mkString(",\n")},
       |clist AS (
       |  SELECT list(DISTINCT c) AS cs FROM (
       |    SELECT unnest(string_split(s, ' ')) AS c FROM v0 WHERE freq_t > 0)),
       |wstats AS (
       |  SELECT w,
       |    CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok_w,
       |    CAST(len(list_filter(string_split(s, ' '),
       |      x -> length(x) > 1)) AS BIGINT) AS n_merged_w,
       |    CAST(len(list_filter(string_split(s, ' '),
       |      x -> length(x) = 1 AND NOT list_contains(cs, x))) AS BIGINT) AS n_oov_w
       |  FROM v8 CROSS JOIN clist)
       |SELECT d.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(ws.n_tok_w) AS BIGINT) AS n_tokens,
       |  CAST(SUM(ws.n_merged_w) AS BIGINT) AS n_merged_tokens,
       |  CAST(SUM(ws.n_oov_w) AS BIGINT) AS n_oov_tokens
       |FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents) d
       |JOIN wstats ws ON ws.w = d.w
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q228

  /** q228: corpus mixing to a target distribution — the data-mixing step
    * every LLM pretraining run executes after cleaning: given a TOKEN
    * budget (half the corpus here) and a target share per source (uniform
    * here; production passes learned weights, e.g. DoReMi's), compute each
    * source's Bernoulli keep-rate and select documents DETERMINISTICALLY
    * by the q69 seed-free hash bucket (`md5('doc-'||id)` ppm), so the mix
    * is reproducible row-for-row across runs and engines. Over-subscribed
    * sources cap at keep-all (rate 10⁶ ppm): a source with fewer tokens
    * than its target slot contributes what it has — the standard
    * up-to-budget mixing rule. All arithmetic is integer (ppm rates via
    * `div`), so the oracle hash-matches.
    *
    * Scale: one per-source token aggregate (a handful of rows —
    * broadcast), a map-side hash filter at ppm granularity, one final
    * per-source aggregate. The doc text never shuffles; rates derive
    * from O(#sources) state.
    */
  private def q228(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("n_tok"),
        Digest.docBucket(1000000).as("ppm"))
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("src_tok"))
    val consts = bySrc.agg(
      count(lit(1)).as("k"), sum(col("src_tok")).as("total_tok"))
    val rates = bySrc.crossJoin(broadcast(consts))
      // uniform target share of a half-corpus budget, capped at keep-all
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("((total_tok div 2) div k) * 1000000 div src_tok")))
      .select(col("source"), col("n_docs"), col("src_tok"), col("rate_ppm"))
    val kept = docs.join(broadcast(rates.select(col("source"), col("rate_ppm"))),
        Seq("source"))
      .filter(col("ppm") < col("rate_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("src_tok"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
      .orderBy(col("source"))
  }

  private val q228Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 7)
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    CAST($hex7 AS BIGINT) % 1000000 AS ppm
       |  FROM documents),
       |bysrc AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_tok) AS BIGINT) AS src_tok
       |  FROM d GROUP BY 1),
       |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |                  CAST(SUM(src_tok) AS BIGINT) AS total_tok FROM bysrc),
       |rates AS (
       |  SELECT source, n_docs, src_tok,
       |    LEAST(CAST(1000000 AS BIGINT),
       |          ((total_tok // 2) // k) * 1000000 // src_tok) AS rate_ppm
       |  FROM bysrc CROSS JOIN consts),
       |kept AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         CAST(SUM(n_tok) AS BIGINT) AS tok_kept
       |  FROM d JOIN rates USING (source)
       |  WHERE ppm < rate_ppm GROUP BY 1)
       |SELECT rates.source, n_docs, src_tok, rate_ppm,
       |  COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  COALESCE(tok_kept, CAST(0 AS BIGINT)) AS tok_kept
       |FROM rates LEFT JOIN kept ON rates.source = kept.source
       |ORDER BY rates.source""".stripMargin
  }

  // --------------------------------------------------------------- q274

  /** q274: token-budget waterfilling — the EXACT allocation rule behind
    * weighted corpus mixing (q228 approximates per-source shares with
    * ppm rates; this computes the optimal ones): given per-source token
    * supplies `n_i`, mixing weights `w_i`, and a 60% token budget `B`,
    * find the water level λ with Σ min(n_i, λ·w_i) = B — sources whose
    * full supply costs less than their fair share saturate (contribute
    * everything), the rest split the remainder proportionally to weight.
    *
    * Spelled as one window pass over the per-source aggregate: sort by
    * supply-per-weight r_i = n_i/w_i ascending, prefix-sum supplies and
    * weights, λ_i = (B − Σn_prefix)/(W − Σw_prefix) is the candidate level
    * if the prefix saturates; a source saturates iff r_i ≤ λ_i and every
    * earlier source did (a running bool-and — the greedy is monotone, the
    * guard makes that explicit). The final level is the first unsaturated
    * λ (= the max, since λ only decreases past it). All doubles derive
    * from exact integers through identical IEEE expressions, so DuckDB
    * replays bit-for-bit.
    *
    * Scale: the window runs over O(#sources) rows (one per corpus — tens,
    * not billions); the per-source aggregate underneath is the only
    * data-sized pass. Applying the allocation is q228's map-side rate
    * filter with `allocated/n_tokens` as the keep-rate.
    */
  /** The full waterfill frame (levels, prefix sums, budget) — q274 projects
    * the allocation; the spec checks the Σ-allocated-=-budget invariant.
    */
  private[operators] def q274Levels(s: SparkSession, d: String): DataFrame =
    waterfill(Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("weight",
        expr("CAST(substring(source, 4, 8) AS BIGINT) % 4 + 1")))

  /** The waterfill plan over any (source, n_tokens, weight) frame —
    * factored out so the property spec can drive it with generated
    * supplies/weights. Budget is 60% of total supply.
    */
  private[operators] def waterfill(bySrc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    val ord = Window.partitionBy(lit(1)).orderBy(col("r"), col("source"))
    val prefix = ord.rowsBetween(Window.unboundedPreceding, -1)
    bySrc
      .withColumn("r", col("n_tokens").cast(DoubleType) / col("weight").cast(DoubleType))
      .withColumn("total_tok", sum(col("n_tokens")).over(whole))
      .withColumn("total_w", sum(col("weight")).over(whole))
      .withColumn("budget", expr("total_tok * 3 div 5"))
      .withColumn("cum_n", coalesce(sum(col("n_tokens")).over(prefix), lit(0L)))
      .withColumn("cum_w", coalesce(sum(col("weight")).over(prefix), lit(0L)))
      .withColumn("lam", (col("budget") - col("cum_n")).cast(DoubleType) /
        (col("total_w") - col("cum_w")).cast(DoubleType))
      .withColumn("sat_here", when(col("r") <= col("lam"), 1L).otherwise(0L))
      .withColumn("saturated",
        min(col("sat_here")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lam_final",
        max(when(col("saturated") === 0L, col("lam"))).over(whole))
  }

  private def q274(s: SparkSession, d: String): DataFrame =
    q274Levels(s, d)
      .select(col("source"), col("n_tokens"), col("weight"),
        when(col("saturated") === 1L, col("n_tokens").cast(DoubleType))
          .otherwise(col("lam_final") * col("weight").cast(DoubleType))
          .as("allocated"),
        col("saturated"))
      .orderBy(col("source"))

  private val q274Sql =
    s"""WITH bysrc AS (
       |  SELECT source,
       |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens,
       |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS weight
       |  FROM documents GROUP BY source),
       |w1 AS (
       |  SELECT source, n_tokens, weight,
       |    CAST(n_tokens AS DOUBLE) / CAST(weight AS DOUBLE) AS r,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tok,
       |    CAST(SUM(weight) OVER () AS BIGINT) AS total_w,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      ORDER BY CAST(n_tokens AS DOUBLE) / CAST(weight AS DOUBLE), source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_n,
       |    CAST(COALESCE(SUM(weight) OVER (
       |      ORDER BY CAST(n_tokens AS DOUBLE) / CAST(weight AS DOUBLE), source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_w
       |  FROM bysrc),
       |w2 AS (
       |  SELECT *, (total_tok * 3) // 5 AS budget FROM w1),
       |w3 AS (
       |  SELECT *,
       |    CAST(budget - cum_n AS DOUBLE) / CAST(total_w - cum_w AS DOUBLE) AS lam
       |  FROM w2),
       |w4 AS (
       |  SELECT *, CASE WHEN r <= lam THEN 1 ELSE 0 END AS sat_here FROM w3),
       |w5 AS (
       |  SELECT *, CAST(MIN(sat_here) OVER (
       |    ORDER BY r, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS saturated
       |  FROM w4),
       |w6 AS (
       |  SELECT *, MAX(CASE WHEN saturated = 0 THEN lam END) OVER () AS lam_final
       |  FROM w5)
       |SELECT source, n_tokens, weight,
       |  CASE WHEN saturated = 1 THEN CAST(n_tokens AS DOUBLE)
       |       ELSE lam_final * CAST(weight AS DOUBLE) END AS allocated,
       |  saturated
       |FROM w6 ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q283

  /** q283: EPOCH / REPETITION SCHEDULE — the step after q274's waterfill
    * decides how many tokens each source contributes: turn the allocation
    * into an executable sampling plan. Each source runs `epochs_full =
    * ⌊allocated⌋ div n_tokens` complete passes, plus a PARTIAL pass of
    * the documents whose hash-ranked cumulative token count covers the
    * remainder — the deterministic, seed-free spelling of "repeat 2.3
    * epochs of source A" (the Muennighoff-style data-constrained recipe).
    * Selection is by md5 rank so the partial-epoch subset is reproducible
    * row-for-row across runs and engines; all outputs are integers, so
    * the oracle (which replays the full waterfill as a CTE chain and the
    * prefix selection as a window) hash-matches exactly.
    *
    * Scale: one window pass over the per-source aggregate plus one
    * hash-ranked prefix sum WITHIN each source partition — both
    * source-partitioned shuffles; the schedule ships as O(#sources) rows
    * and the per-doc repeat factor derives map-side from (rank, cum) at
    * read time.
    */
  private def q283(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = q274Levels(s, d)
      .select(col("source"), col("n_tokens"), col("weight"),
        when(col("saturated") === 1L, col("n_tokens").cast(DoubleType))
          .otherwise(col("lam_final") * col("weight").cast(DoubleType))
          .as("allocated"))
      .withColumn("alloc_tok", floor(col("allocated")).cast(LongType))
      .withColumn("epochs_full", expr("alloc_tok div n_tokens"))
      .withColumn("rem_target", col("alloc_tok") % col("n_tokens"))
    val perDoc = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_tok"),
        Digest.docMd5.as("h"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h")).rowsBetween(Window.unboundedPreceding, -1)
    val picked = perDoc
      .withColumn("cum_prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .join(broadcast(alloc.select(col("source"), col("rem_target"))),
        Seq("source"))
      .filter(col("cum_prev") < col("rem_target"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_extra_docs"), sum(col("n_tok")).as("extra_tokens"))
    alloc.join(picked, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("epochs_full"),
        col("rem_target"),
        coalesce(col("n_extra_docs"), lit(0L)).as("n_extra_docs"),
        coalesce(col("extra_tokens"), lit(0L)).as("extra_tokens"))
      .orderBy(col("source"))
  }

  private val q283Sql = {
    val hex = "md5('doc-' || doc_id)"
    s"""WITH alloc0 AS (
       |${q274Sql.linesIterator.map("  " + _).mkString("\n")}),
       |alloc AS (
       |  SELECT source, n_tokens,
       |    CAST(FLOOR(allocated) AS BIGINT) AS alloc_tok,
       |    CAST(FLOOR(allocated) AS BIGINT) // n_tokens AS epochs_full,
       |    CAST(FLOOR(allocated) AS BIGINT) % n_tokens AS rem_target
       |  FROM alloc0),
       |perdoc AS (
       |  SELECT source, doc_id,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    $hex AS h
       |  FROM documents),
       |cums AS (
       |  SELECT source, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY h
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_prev
       |  FROM perdoc),
       |picked AS (
       |  SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_extra_docs,
       |    CAST(SUM(c.n_tok) AS BIGINT) AS extra_tokens
       |  FROM cums c JOIN alloc a ON c.source = a.source
       |  WHERE c.cum_prev < a.rem_target GROUP BY c.source)
       |SELECT a.source, a.n_tokens, a.epochs_full, a.rem_target,
       |  COALESCE(p.n_extra_docs, CAST(0 AS BIGINT)) AS n_extra_docs,
       |  COALESCE(p.extra_tokens, CAST(0 AS BIGINT)) AS extra_tokens
       |FROM alloc a LEFT JOIN picked p ON a.source = p.source
       |ORDER BY a.source""".stripMargin
  }

  // --------------------------------------------------------------- q287

  /** q287: SHARD PUBLISH — the last step of the training-data pipeline:
    * a deterministic, seed-free global shuffle (order = md5 of the doc
    * id) assigns every document to one of 16 shards map-side (top bits of
    * the hash — NO global sort, no single-partition window), the shards
    * land as a hive layout `shard=K/`, and the manifest the trainer
    * consumes is computed FROM THE PUBLISHED FILES: per-shard doc count,
    * token count, an order-independent content checksum (`bit_xor` of
    * each doc's 48-bit hash), and the shard's read head (`min_by` doc on
    * hash order). The oracle replays the assignment from the source
    * table, so a doc dropped, duplicated, or mis-sharded BY THE WRITE
    * shows up as a count/checksum hash mismatch — the publish is
    * verified, not trusted.
    *
    * Scale: assignment is map-side arithmetic; the only shuffle is the
    * repartition-by-shard that makes each dir one writer's output (a
    * real estate keeps multiple files per shard via maxRecordsPerFile —
    * the layout contract is the dir, not the file). Hash-prefix sharding
    * balances by the law of large numbers, which is exactly the regime a
    * 100 TB corpus is in; within-shard read order is the hash itself, so
    * every epoch's shuffle is reproducible across engines and cluster
    * sizes.
    */
  private def q287(s: SparkSession, d: String): DataFrame = {
    val dir = graft.StagingDirs.dir(s, "shards", d)
    graft.StagingDirs.once(dir) {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks(col("text"))).cast(LongType).as("n_tok"),
          Digest.docMd5.as("h"))
        .withColumn("h48", Digest.hexPrefix(col("h"), 1, 12))
        .withColumn("shard", pmod(col("h48"), lit(16)).cast(LongType))
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("overwrite").parquet(s"$dir/data")
    }
    Tables.parquet(s, s"$dir/data")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        expr("bit_xor(h48)").as("checksum"),
        min_by(col("doc_id"), col("h")).as("first_doc"))
      .orderBy(col("shard"))
  }

  private val q287Sql = {
    val h48 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 12)
    s"""WITH h AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    md5('doc-' || doc_id) AS hx,
       |    CAST($h48 AS BIGINT) AS h48
       |  FROM documents)
       |SELECT h48 % 16 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  bit_xor(h48) AS checksum, min_by(doc_id, hx) AS first_doc
       |FROM h GROUP BY 1 ORDER BY shard""".stripMargin
  }

  // --------------------------------------------------------------- q295

  /** q295: DATASET CARD — the release manifest a training snapshot ships
    * with, computed in ONE grouped pass: per (split × source) — split by
    * the same seed-free md5 hash q69 releases with — document and token
    * counts, exact-duplicate count (docs minus distinct text
    * fingerprints), total characters, and language coverage. This is the
    * table a consumer reads before training: mixture shares, dup burden
    * and language balance PER SPLIT, so a skewed split or a dedup
    * regression is visible at publish time rather than mid-run.
    *
    * Scale: one shuffle keyed by (split, source); the two distinct
    * counts ride the same aggregate as partial distinct sets bounded by
    * the group's fingerprint/language cardinality; the card is
    * O(splits × sources) rows at any corpus size.
    */
  private def q295(s: SparkSession, d: String): DataFrame = {
    val bucket = Digest.docBucket(100)
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast(LongType)).as("n_tokens"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"), col("source"))
  }

  private val q295Sql = {
    val hex7 = graft.Exact.sqlHexToLong("md5('doc-' || doc_id)", 1, 7)
    s"""SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |FROM (
       |  SELECT *, CASE WHEN CAST($hex7 AS BIGINT) % 100 < 80 THEN 'train'
       |                 WHEN CAST($hex7 AS BIGINT) % 100 < 90 THEN 'val'
       |                 ELSE 'test' END AS split
       |  FROM documents)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q224: BM25 ranked retrieval — the lexical top-10 per query doc, the
    * text-search leg every RAG/retrieval pipeline runs next to its vector
    * index (and the "more-like-this" primitive of lexical dedup review).
    * Semantics and exactness in [[bm25Ranks]].
    */
  private def q224(s: SparkSession, d: String): DataFrame =
    bm25Ranks(s, d)
      .filter(col("lrank") <= 10)
      .select(col("qid"), col("lrank").as("rank"), col("nid"), col("score"))
      .orderBy(col("qid"), col("rank"))

  private val q224Sql =
    s"""WITH ${bm25RanksSql()}
       |SELECT qid, lrank AS rank, nid, score FROM lex
       |WHERE lrank <= 10 ORDER BY qid, rank""".stripMargin

  // --------------------------------------------------------------- q345

  /** Regexes shared by the Spark plan and the DuckDB oracle verbatim —
    * restricted to the syntax subset (char classes, bounded repeats, `\b`,
    * `\d`) where Java's engine and RE2 provably agree match-for-match.
    */
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PhoneRe = """\b555-\d{3}-\d{4}\b"""

  /** q345: PII SCAN + REDACTION — the release-gate pass every public
    * training corpus runs before shipping (Dolma's PII tagging, Soldaini
    * et al. 2024; CCNet/ROOTS do the same with these exact three classes):
    * regex detectors for emails, IPv4 addresses, and NANP-style phone
    * numbers, per-type occurrence counts, and a redacted rewrite
    * (`<EMAIL>`/`<IP>`/`<PHONE>` placeholders, applied in one fixed order)
    * whose md5 the oracle hash-checks. The synthetic corpus carries no PII,
    * so the pass first INJECTS it deterministically from doc_id arithmetic
    * (the q318/q340 controlled-distortion discipline: the planted truth is
    * DATA, not RNG state) — docs ≡0 mod 3 gain an email, ≡1 mod 4 an IP,
    * ≡2 mod 5 a phone — and the scanner must find exactly those, so
    * precision AND recall of the detector are what the hash verifies, not
    * just "some regexp ran".
    *
    * Scale: map-only — inject, count, redact, hash are all per-row
    * expressions inside one whole-stage-codegen span off the scan; the
    * only shuffle is the presentation sort. At 100 TB this is the shape
    * you want: no state, no driver, embarrassingly parallel.
    */
  private def q345(s: SparkSession, d: String): DataFrame = {
    val injected = Tables.documents(s, d)
      .withColumn("raw", concat(
        col("text"),
        when(col("doc_id") % 3 === 0, concat(
          lit(" contact user"), col("doc_id"),
          lit("@mail"), col("doc_id") % 10, lit(".org"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1, concat(
          lit(" host 10."), col("doc_id") % 256, lit("."),
          (col("doc_id") * 7) % 256, lit("."), col("doc_id") % 250))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 2, concat(
          lit(" call 555-"), lpad(col("doc_id") % 1000, 3, "0"), lit("-"),
          lpad((col("doc_id") * 3) % 10000, 4, "0"))).otherwise(lit(""))))
    injected
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("raw"), lit(Ipv4Re), lit(0)))
          .cast(LongType).as("n_ip"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0)))
          .cast(LongType).as("n_phone"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>")).as("redacted_hash"))
      .filter(col("n_email") + col("n_ip") + col("n_phone") > 0)
      .orderBy(col("doc_id"))
  }

  private val q345Sql =
    s"""WITH inj AS (
       |  SELECT doc_id, text
       |    || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id
       |         || '@mail' || (doc_id % 10) || '.org' ELSE '' END)
       |    || (CASE WHEN doc_id % 4 = 1 THEN ' host 10.' || (doc_id % 256)
       |         || '.' || ((doc_id * 7) % 256) || '.' || (doc_id % 250)
       |         ELSE '' END)
       |    || (CASE WHEN doc_id % 5 = 2 THEN ' call 555-'
       |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       |         || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END) AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(raw, '$Ipv4Re')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phone,
       |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_hash
       |FROM inj
       |WHERE len(regexp_extract_all(raw, '$EmailRe'))
       |    + len(regexp_extract_all(raw, '$Ipv4Re'))
       |    + len(regexp_extract_all(raw, '$PhoneRe')) > 0
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q346

  /** q346: CHAT-TEMPLATE ASSEMBLY — the SFT-data face of the corpus prep
    * family: per-conversation event streams flatten into a rendered
    * multi-turn transcript (the `<|role|>content` framing every chat
    * fine-tune pipeline emits before tokenization), with turn capping at
    * 16, per-role character accounting (the loss-masking budget: user
    * turns are masked, assistant turns are trained on), and the rendered
    * transcript's md5 — so the whole template, including turn ORDER, is
    * hash-verified. Conversations are the events table's per-user streams
    * (role alternates by turn parity — a deterministic stand-in for the
    * speaker field a real chat log carries; the mechanics under test are
    * the grouping, ordering, capping, rendering, and accounting, which are
    * role-source-agnostic).
    *
    * Determinism: the transcript is rebuilt by array_sort over
    * (turn, piece) structs collected per conversation — the q336
    * discipline — so any partial-aggregation order yields the same string;
    * turn order itself is total (ts, then event_id).
    *
    * Scale: one shuffle keyed by conversation id; each group holds ≤ the
    * conversation's events and renders a bounded 16-turn prefix. No
    * window over an unpartitioned domain, no driver-side assembly.
    */
  private def q346(s: SparkSession, d: String): DataFrame = {
    val turns = Tables.events(s, d)
      .select(col("user_id").as("conv_id"), col("ts"), col("event_id"),
        concat(col("event_type"), lit("="),
          get_json_object(col("props"), "$.k")).as("content"))
      .withColumn("turn", row_number().over(
        Window.partitionBy(col("conv_id"))
          .orderBy(col("ts"), col("event_id"))) - 1)
      .filter(col("turn") < 16)
      .withColumn("role",
        when(col("turn") % 2 === 0, lit("user")).otherwise(lit("assistant")))
    turns
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", length(col("content")))
          .otherwise(0)).cast(LongType).as("user_chars"),
        sum(when(col("role") === "assistant", length(col("content")))
          .otherwise(0)).cast(LongType).as("assistant_chars"),
        expr("md5(array_join(transform(array_sort(collect_list(" +
          "struct(turn, concat('<|', role, '|>', content) AS piece))), " +
          "x -> x.piece), ''))").as("transcript_hash"))
      .orderBy(col("conv_id"))
  }

  private val q346Sql =
    """WITH t AS (
      |  SELECT user_id AS conv_id, ts, event_id,
      |    event_type || '=' || json_extract_string(props, '$.k') AS content,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
      |      AS turn
      |  FROM events),
      |capped AS (
      |  SELECT conv_id, turn,
      |    CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    content
      |  FROM t WHERE turn < 16)
      |SELECT conv_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_turns,
      |  CAST(SUM(CASE WHEN role = 'user' THEN len(content) ELSE 0 END)
      |    AS BIGINT) AS user_chars,
      |  CAST(SUM(CASE WHEN role = 'assistant' THEN len(content) ELSE 0 END)
      |    AS BIGINT) AS assistant_chars,
      |  md5(string_agg('<|' || role || '|>' || content, '' ORDER BY turn))
      |    AS transcript_hash
      |FROM capped GROUP BY conv_id ORDER BY conv_id""".stripMargin

  // --------------------------------------------------------------- q375

  /** q375: PREFIX-CACHE SAVINGS PLAN — the serving-estate number a
    * KV-cache-aware router is provisioned from: if prompts sharing a
    * prefix land on the same server, how many prompt characters are
    * cache HITS (already prefilled by the previous prompt) versus cold?
    * Prompts (leading 64 chars — the system-prompt/template region where
    * real traffic overlaps) bucket by their 2-char radix — the router's
    * shard key — and within each (source, radix) bucket, sorted order,
    * each prompt's hit length is its longest common prefix with its
    * predecessor: exactly the incremental node cost of inserting the
    * prompts into a radix tree in sorted order, so `cached_chars` is the
    * total trie-sharing a prefix cache achieves within a shard. The LCP
    * is a codegen'd char-compare HOF (first mismatch position over
    * `sequence(1, min(len))`), no UDF; `hit_ppm` is exact integer
    * arithmetic. Public grounding: radix-tree prefix reuse in LLM
    * serving (Zheng et al., "SGLang: Efficient Execution of Structured
    * Language Model Programs", RadixAttention).
    *
    * Scale: the window partitions by (source, radix bucket) — never a
    * global order — so the sort shuffles into thousands of bounded
    * buckets exactly as the router shards; cross-bucket neighbors are
    * deliberately NOT credited (prompts differing in their first two
    * chars share ≤ 2 chars of prefix, and a different shard's cache).
    * O(n · 64²) char compares map-side, one keyed shuffle, one rollup.
    */
  private def q375(s: SparkSession, d: String): DataFrame = {
    val p = Tables.documents(s, d)
      .filter(length(col("text")) >= 1)
      .select(col("source"), substring(col("text"), 1, 64).as("prompt"))
    val w = Window.partitionBy(col("source"), substring(col("prompt"), 1, 2))
      .orderBy(col("prompt"))
    val withPrev = p.withColumn("prev", lag(col("prompt"), 1).over(w))
    val n = least(length(col("prompt")), length(col("prev")))
    val firstMismatch = array_min(filter(
      transform(sequence(lit(1), n), i =>
        when(col("prompt").substr(i, lit(1)) === col("prev").substr(i, lit(1)),
          lit(null)).otherwise(i)),
      x => x.isNotNull))
    val lcp = when(col("prev").isNull || n < 1, lit(0))
      .otherwise(coalesce(firstMismatch - 1, n))
    withPrev
      .select(col("source"), length(col("prompt")).cast("long").as("lp"),
        lcp.cast("long").as("lcp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_prompts"),
        sum(col("lp")).as("total_chars"),
        sum(col("lcp")).as("cached_chars"))
      .withColumn("hit_ppm", expr("cached_chars * 1000000 div total_chars"))
      .orderBy(col("source"))
  }

  private val q375Sql =
    """WITH p AS (
      |  SELECT source, substr(text, 1, 64) AS prompt
      |  FROM documents WHERE length(text) >= 1),
      |w AS (
      |  SELECT source, prompt,
      |    lag(prompt) OVER (
      |      PARTITION BY source, substr(prompt, 1, 2) ORDER BY prompt) AS prev
      |  FROM p),
      |l AS (
      |  SELECT source, length(prompt) AS lp,
      |    CASE WHEN prev IS NULL THEN 0
      |      ELSE COALESCE(
      |        list_min(list_filter(
      |          range(1, LEAST(length(prompt), length(prev)) + 1),
      |          i -> substr(prompt, CAST(i AS INTEGER), 1)
      |            <> substr(prev, CAST(i AS INTEGER), 1))) - 1,
      |        LEAST(length(prompt), length(prev))) END AS lcp
      |  FROM w)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_prompts,
      |  CAST(SUM(lp) AS BIGINT) AS total_chars,
      |  CAST(SUM(lcp) AS BIGINT) AS cached_chars,
      |  CAST(CAST(SUM(lcp) AS BIGINT) * 1000000
      |    // CAST(SUM(lp) AS BIGINT) AS BIGINT) AS hit_ppm
      |FROM l GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q380

  /** q380: TEMPERATURE-SCALED MIXTURE ALLOCATION — q228's mixing step
    * with the weights production actually uses: instead of a uniform
    * target share, each source's sampling weight is `n_s^α / Σ n_t^α`
    * with α = 1/2 — the temperature-scaled multinomial of multilingual
    * pretraining (Conneau & Lample, XLM; mT5's α-sampling), which
    * up-weights small sources without letting a giant one dominate. The
    * numeric discipline is the point: `Σ n_t^α` is a sum of DOUBLES, and
    * a hash-aggregate would add them in partition order — so the total
    * is computed as an ORDERED prefix sum over the source-keyed rollup
    * (a window ordered by source name), making every IEEE addition
    * happen in one written-down order in both engines; sqrt is exactly
    * rounded per IEEE-754, so the whole weight column is bit-stable.
    * Allocations floor against a half-corpus token budget; implied
    * epochs per source in exact ppm arithmetic.
    *
    * Scale: the window runs over the per-SOURCE rollup — tens of rows,
    * bounded by the source domain, never by corpus size — after one
    * map-side-combinable token count; the single-partition frame is a
    * deliberate O(#sources) reduction, the same bounded-state argument
    * as q361's 1-row MM frame.
    */
  private def q380(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("n_tokens"))
    val total = toks.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val ordered = Window.orderBy(col("source"))
    val full = ordered.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    toks.crossJoin(broadcast(total))
      .withColumn("sqw", sqrt(col("n_tokens").cast(DoubleType)))
      .withColumn("running", sum(col("sqw")).over(
        ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("z", max(col("running")).over(full))
      .withColumn("weight", col("sqw") / col("z"))
      .withColumn("budget", expr("corpus_tokens div 2"))
      .withColumn("alloc_tokens",
        floor(col("budget").cast(DoubleType) * col("weight")).cast(LongType))
      .withColumn("epochs_ppm",
        expr("alloc_tokens * 1000000 div n_tokens"))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("alloc_tokens"), col("epochs_ppm"))
      .orderBy(col("source"))
  }

  private val q380Sql =
    """WITH t AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_tokens,
      |    sqrt(CAST(n_tokens AS DOUBLE)) AS sqw,
      |    SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER (
      |      ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
      |    CAST((SELECT SUM(n_tokens) FROM t) AS BIGINT) AS corpus_tokens
      |  FROM t),
      |z AS (
      |  SELECT source, n_tokens, sqw, corpus_tokens,
      |    MAX(running) OVER () AS z
      |  FROM w)
      |SELECT source, n_tokens, sqw / z AS weight,
      |  CAST(FLOOR(CAST(corpus_tokens // 2 AS DOUBLE) * (sqw / z))
      |    AS BIGINT) AS alloc_tokens,
      |  CAST(FLOOR(CAST(corpus_tokens // 2 AS DOUBLE) * (sqw / z))
      |    AS BIGINT) * 1000000 // n_tokens AS epochs_ppm
      |FROM z ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q388

  /** q388: PRIORITY SAMPLING — weighted sampling for subset-sum estimation
    * without transcendentals (Duffield, Lund & Thorup, "Priority Sampling
    * for Estimation of Arbitrary Subset Sums", JACM 2007). Each document
    * gets priority p = w/u with weight w = n_chars and u a deterministic
    * md5-derived dyadic rational in (0,1] (h+1)/2^48 — exactly
    * representable in a double, so p is ONE IEEE multiply + ONE divide,
    * bit-identical in both engines (where Efraimidis–Espirakis reservoir
    * keys need pow/log, priority sampling needs only division — the
    * reason it is the oracle-checkable choice). The k = 64 highest
    * priorities form the sample; τ = the (k+1)-th priority; each sampled
    * item estimates its weight as max(w, τ), and per-source subset-sum
    * estimates Σ max(w, τ) sit beside the exact totals for audit. The
    * float sum is avoided exactly: Σ max(w,τ) = Σ_{w>τ} w + |{w≤τ}|·τ —
    * an integer sum plus one multiply plus one add.
    *
    * Scale: the top-(k+1) is TakeOrderedAndProject (per-partition heaps,
    * one O(k) driver merge — no global sort); τ is a 1-row broadcast; the
    * exact per-source totals are one combinable aggregate. At 100 TB the
    * full pass computes ONLY (hash, divide, heap-push) per row.
    */
  private def q388(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val pri = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        Digest.bucket(Digest.salted("pri-", col("doc_id")), 1, 12).as("h"))
      .withColumn("p",
        col("n_chars").cast(DoubleType) * lit(281474976710656.0) /
          (col("h") + 1).cast(DoubleType))
    val top = pri.orderBy(desc("p"), col("doc_id")).limit(k + 1)
    val tau = top.agg(min(col("p")).as("tau"))
    val est = top.orderBy(desc("p"), col("doc_id")).limit(k)
      .crossJoin(broadcast(tau))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(when(col("n_chars").cast(DoubleType) > col("tau"),
          col("n_chars")).otherwise(0L)).as("s_gt"),
        sum(when(col("n_chars").cast(DoubleType) <= col("tau"), 1L)
          .otherwise(0L)).as("n_le"),
        min(col("tau")).as("tau"))
    Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("true_chars"))
      .join(est, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("true_chars"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(
          col("s_gt").cast(DoubleType) +
            col("n_le").cast(DoubleType) * col("tau"),
          lit(0.0)).as("est_chars"))
      .orderBy(col("source"))
  }

  private val q388Sql = {
    val h = Exact.sqlHexToLong("md5('pri-' || doc_id)", 1, 12)
    s"""WITH pri AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(n_chars AS DOUBLE) * 281474976710656.0 /
       |      CAST(($h) + 1 AS DOUBLE) AS p
       |  FROM documents),
       |topk AS (SELECT * FROM pri ORDER BY p DESC, doc_id LIMIT 65),
       |tau AS (SELECT MIN(p) AS tau FROM topk),
       |samp AS (SELECT * FROM topk ORDER BY p DESC, doc_id LIMIT 64),
       |est AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |    CAST(SUM(CASE WHEN CAST(n_chars AS DOUBLE) > tau
       |      THEN n_chars ELSE 0 END) AS BIGINT) AS s_gt,
       |    CAST(COUNT(*) FILTER (WHERE CAST(n_chars AS DOUBLE) <= tau)
       |      AS BIGINT) AS n_le,
       |    MIN(tau) AS tau
       |  FROM samp CROSS JOIN tau GROUP BY source),
       |tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS true_chars
       |  FROM documents GROUP BY source)
       |SELECT t.source, n_docs, true_chars,
       |  COALESCE(n_sampled, 0) AS n_sampled,
       |  COALESCE(CAST(s_gt AS DOUBLE) + CAST(n_le AS DOUBLE) * tau, 0.0)
       |    AS est_chars
       |FROM tot t LEFT JOIN est ON t.source = est.source
       |ORDER BY t.source""".stripMargin
  }

  // --------------------------------------------------------------- q398

  /** q398: INCREMENTAL NEAR-DUP CLUSTERING — the daily-arrival shape of
    * q85: yesterday's corpus (doc_id % 3 ≠ 0) is already clustered; a new
    * batch lands and the clustering is MAINTAINED, not recomputed.
    * Stage 1 labels the old graph alone (the state a production pipeline
    * carries between runs); stage 2 computes ONLY the delta edges —
    * shingle-posting pairs touching at least one new doc; stage 3
    * re-runs the component fixpoint on the AFFECTED subgraph (old
    * components adjacent to a delta edge, plus the new docs) and splices
    * the result over the untouched labels. The output — per component:
    * size and new-member count — hash-matches the FULL-batch recursive
    * oracle, which is the incremental-maintenance claim stated as an
    * equation: splice(old, delta) ≡ recompute(all). Two old components
    * bridged by a new doc merge through the subgraph fixpoint.
    *
    * The stop-shingle df cap is computed over the FULL corpus on both
    * paths (it is one mergeable count per shingle — the statistic a real
    * system maintains incrementally); computing it per-batch would let
    * the incremental and batch edge sets drift.
    *
    * Scale: the old corpus contributes its postings ONCE to the delta
    * join (new-side × full-side, keyed by shingle — O(delta postings ·
    * df)); the fixpoint re-runs on O(affected components), a sliver of
    * the graph. Unaffected labels never leave their table. That is the
    * difference between O(batch) and O(corpus) per day at 100 TB.
    */
  private def q398(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(t) - 3), i -> xxhash64(t[i], t[i+1], t[i+2]))"))
        .as("shingles"))
      .cache()
    // set size carried per posting (Jaccard.pairsCarried's device): the
    // old `dress` attached sizes by TWO joins per edge derivation —
    // re-shuffling the pair mass by ida and again by idb — while sz is
    // functionally dependent on the id; +8 bytes per posting removes all
    // four sizes joins and all four pair re-shuffles across the two
    // derivations. min(sz) per pair side IS the carried constant, so the
    // edge sets are bit-identical.
    val postings = sh.select(col("doc_id").as("id"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("e"))
    // corpus-sized relations: pin the shuffled hash join exactly as
    // Jaccard.pairs does (the size estimate shrinks ~100x through the
    // cached relation's explode + narrow projection, so the planner
    // broadcasts corpus-sized build sides — a shape that dies at the
    // 8 GB/512M-row broadcast cap long before 100 TB).
    val pin = Jaccard.pinFor(Jaccard.StopShingleDf)
    val colds = postings.groupBy(col("e")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= Jaccard.StopShingleDf).select(col("e"))
    val base = postings.join(pin(colds), Seq("e"), "left_semi")
    val baseOld = base.filter(col("id") % 3 =!= 0)
    val baseNew = base.filter(col("id") % 3 === 0)
    def dress(inter: DataFrame): DataFrame = inter
      .filter(col("inter").cast(DoubleType) /
        (col("sza") + col("szb") - col("inter")) >= 0.3)
      .select(col("ida").as("da"), col("idb").as("db"))
    // yesterday's state: old-old pairs only
    val edgesOld = dress(
      baseOld.as("a").join(pin(baseOld.as("b")),
          col("a.e") === col("b.e") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
        .agg(count(lit(1)).as("inter"),
          min(col("a.sz")).as("sza"), min(col("b.sz")).as("szb")))
      .localCheckpoint()
    val labelsOld = components(s, edgesOld).localCheckpoint()
    // today's delta: pairs with >= 1 new endpoint — the (ida, idb) key of
    // the new-old leg flips sides, so the carried sizes flip with it
    val nn = baseNew.as("a").join(pin(baseNew.as("b")),
        col("a.e") === col("b.e") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
    val no = baseNew.as("a").join(pin(baseOld.as("b")), col("a.e") === col("b.e"))
      .select(least(col("a.id"), col("b.id")).as("ida"),
        greatest(col("a.id"), col("b.id")).as("idb"),
        when(col("a.id") < col("b.id"), col("a.sz")).otherwise(col("b.sz"))
          .as("sza"),
        when(col("a.id") < col("b.id"), col("b.sz")).otherwise(col("a.sz"))
          .as("szb"))
    val edgesNew = dress(nn.union(no).groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("inter"),
        min(col("sza")).as("sza"), min(col("szb")).as("szb")))
      .localCheckpoint()
    sh.unpersist()
    // affected = old components touching a delta edge
    val deltaEnds = edgesNew.select(col("da").as("id"))
      .union(edgesNew.select(col("db").as("id"))).distinct()
    val touched = labelsOld.join(deltaEnds, Seq("id"))
      .select(col("comp")).distinct()
    val affectedOld = labelsOld.join(touched, Seq("comp"))
      .select(col("id"))
    // components are edge-closed: an edge with one affected endpoint has
    // both in the same (affected) component, so a one-sided semi suffices
    val subEdgesOld = edgesOld.join(
      affectedOld.withColumnRenamed("id", "da"), Seq("da"), "left_semi")
    val subLabels = components(s,
      subEdgesOld.union(edgesNew).localCheckpoint())
    val untouched = labelsOld.join(touched, Seq("comp"), "left_anti")
    untouched.select(col("id"), col("comp")).union(subLabels)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("sz"),
        sum((col("id") % 3 === 0).cast(LongType)).as("n_new"))
      .orderBy(col("comp"))
  }

  private val q398Sql =
    s"""WITH RECURSIVE $componentsCteSql
       |SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz,
       |  CAST(COUNT(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT) AS n_new
       |FROM comp GROUP BY comp ORDER BY comp""".stripMargin

  // --------------------------------------------------------------- q399

  /** q399: EPOCH SHUFFLE + OFFSET RESUME — the training data-loader's two
    * primitives, neither of which may cost a global sort: (a) each epoch
    * e reads the corpus in the deterministic pseudo-random order
    * md5(epoch, doc_id) — reshuffled BETWEEN epochs, identical across
    * reruns/engines/cluster sizes (Spark's randomSplit/shuffle are
    * neither); (b) a job killed at global offset k resumes at position
    * k+1 WITHOUT sorting the corpus: keys bucket by their top 4 bits (16
    * range-ordered buckets), one combinable count per bucket + a
    * 16-row cumulative gives each bucket's global base, and only the
    * bucket(s) overlapping [k+1, k+4] rank internally (a window
    * PARTITIONED by bucket — 1/16th of the corpus, and 1/2^b of it with
    * more bucket bits at scale). The emitted rows — each epoch's first 8
    * and its resume window — carry their GLOBAL positions, verified
    * against the oracle's full row_number.
    *
    * Scale: the epoch head is TakeOrdered (per-partition heaps); the
    * resume path's only driver-sized object is the 16-row bucket census;
    * the corpus is never globally sorted, and at 100 TB the bucket count
    * grows with the key prefix width, keeping the ranked slice constant.
    */
  private def q399(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 20L // resume offset: positions k+1 .. k+4
    def epochFrame(e: Int): DataFrame = {
      val keyed = Tables.documents(s, d).select(col("doc_id"),
        Digest.bucket(Digest.salted(s"ep$e-", col("doc_id")), 1, 12).as("key"))
      val head = keyed.orderBy(col("key"), col("doc_id")).limit(8)
        .withColumn("pos", row_number()
          .over(Window.orderBy(col("key"), col("doc_id"))).cast(LongType))
        .select(lit(e.toLong).as("epoch"), col("pos"), col("doc_id"))
      val bucketed = keyed.withColumn("b", expr(s"key div ${1L << 44}"))
      val counts = bucketed.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      val cum = counts.withColumn("before",
        coalesce(sum(col("cnt")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val sel = cum.filter(col("before") <= k + 3 &&
        col("before") + col("cnt") > k)
      val resume = bucketed.join(broadcast(sel), Seq("b"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("b")).orderBy(col("key"), col("doc_id"))))
        .withColumn("pos", (col("before") + col("rn")).cast(LongType))
        .filter(col("pos") >= k + 1 && col("pos") <= k + 4)
        .select(lit(e.toLong).as("epoch"), col("pos"), col("doc_id"))
      head.unionByName(resume)
    }
    (1 to 3).map(epochFrame).reduce(_.unionByName(_))
      .orderBy(col("epoch"), col("pos"))
  }

  private val q399Sql = {
    val h = Exact.sqlHexToLong("md5('ep' || epoch || '-' || doc_id)", 1, 12)
    s"""WITH e AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS epoch),
       |keyed AS (
       |  SELECT epoch, doc_id, CAST($h AS BIGINT) AS key
       |  FROM documents CROSS JOIN e),
       |ranked AS (
       |  SELECT epoch, doc_id, ROW_NUMBER() OVER (
       |    PARTITION BY epoch ORDER BY key, doc_id) AS pos
       |  FROM keyed)
       |SELECT epoch, CAST(pos AS BIGINT) AS pos, doc_id FROM ranked
       |WHERE pos <= 8 OR pos BETWEEN 21 AND 24
       |ORDER BY epoch, pos""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q399_epoch_shuffle" -> q399,
    "q398_incremental_components" -> q398,
    "q388_priority_sample" -> q388,
    "q380_temperature_mixture" -> q380,
    "q375_prefix_cache_plan" -> q375,
    "q345_pii_scan" -> q345,
    "q346_chat_assembly" -> q346,
    "q357_soft_dedup_weights" -> q357,
    "q214_incremental_dedup" -> q214,
    "q216_snapshot_gate_persisted" -> q216,
    "q200_lm_fluency" -> q200,
    "q201_importance_weights" -> q201,
    "q107_inverted_index" -> q107,
    "q276_incremental_index" -> q276,
    "q101_repetition_filter" -> q101,
    "q102_passage_dedup" -> q102,
    "q336_boilerplate_strip" -> q336,
    "q340_span_corruption" -> q340,
    "q87_bigram_lm" -> q87,
    "q88_length_profile" -> q88,
    "q89_vocab_overlap" -> q89,
    "q66_tfidf" -> q66,
    "q67_doc_chunks" -> q67,
    "q142_native_chunks" -> q142,
    "q166_bpe_merge_step" -> q166,
    "q174_cdc_block_dedup" -> q174,
    "q68_term_redaction" -> q68,
    "q69_train_split" -> q69,
    "q85_dedup_components" -> q85,
    "q186_dup_rate_by_source" -> q186,
    "q187_vocab_growth" -> q187,
    "q125_reachability_cte" -> q125,
    "q86_sequence_packing" -> q86,
    "q112_token_graph_triangles" -> q112,
    "q113_canonical_docs" -> q113,
    "q219_dup_spans" -> q219,
    "q224_bm25_retrieval" -> q224,
    "q311_retrieval_metrics" -> q311,
    "q320_ndcg" -> q320,
    "q228_corpus_mixing" -> q228,
    "q274_token_waterfill" -> q274,
    "q283_epoch_schedule" -> q283,
    "q287_shard_publish" -> q287,
    "q295_dataset_card" -> q295,
    "q302_packing_efficiency" -> q302,
    "q303_dup_provenance" -> q303,
    "q229_bpe_train" -> q229,
    "q234_bpe_encode" -> q234,
    "q238_leakage_safe_split" -> q238
  )

  override def oracles: Map[String, String] = Map(
    "q399_epoch_shuffle" -> q399Sql,
    "q398_incremental_components" -> q398Sql,
    "q388_priority_sample" -> q388Sql,
    "q380_temperature_mixture" -> q380Sql,
    "q375_prefix_cache_plan" -> q375Sql,
    "q345_pii_scan" -> q345Sql,
    "q346_chat_assembly" -> q346Sql,
    "q357_soft_dedup_weights" -> q357Sql,
    "q214_incremental_dedup" -> q214Sql,
    "q216_snapshot_gate_persisted" -> q214Sql, // same contract, persisted
    "q200_lm_fluency" -> q200Sql,
    "q201_importance_weights" -> q201Sql,
    "q107_inverted_index" -> q107Sql,
    "q276_incremental_index" -> q276Sql,
    "q101_repetition_filter" -> q101Sql,
    "q102_passage_dedup" -> q102Sql,
    "q336_boilerplate_strip" -> q336Sql,
    "q340_span_corruption" -> q340Sql,
    "q87_bigram_lm" -> q87Sql,
    "q88_length_profile" -> q88Sql,
    "q89_vocab_overlap" -> q89Sql,
    "q66_tfidf" -> q66Sql,
    "q67_doc_chunks" -> q67Sql,
    "q142_native_chunks" -> q142Sql,
    "q166_bpe_merge_step" -> q166Sql,
    "q174_cdc_block_dedup" -> q174Sql,
    "q68_term_redaction" -> q68Sql,
    "q69_train_split" -> q69Sql,
    "q85_dedup_components" -> q85Sql,
    "q186_dup_rate_by_source" -> q186Sql,
    "q187_vocab_growth" -> q187Sql,
    "q125_reachability_cte" -> q125Sql,
    "q86_sequence_packing" -> q86Sql,
    "q112_token_graph_triangles" -> q112Sql,
    "q113_canonical_docs" -> q113Sql,
    "q219_dup_spans" -> q219Sql,
    "q224_bm25_retrieval" -> q224Sql,
    "q311_retrieval_metrics" -> q311Sql,
    "q320_ndcg" -> q320Sql,
    "q228_corpus_mixing" -> q228Sql,
    "q274_token_waterfill" -> q274Sql,
    "q283_epoch_schedule" -> q283Sql,
    "q287_shard_publish" -> q287Sql,
    "q295_dataset_card" -> q295Sql,
    "q302_packing_efficiency" -> q302Sql,
    "q303_dup_provenance" -> q303Sql,
    "q229_bpe_train" -> q229Sql,
    "q234_bpe_encode" -> q234Sql,
    "q238_leakage_safe_split" -> q238Sql
  )
}
