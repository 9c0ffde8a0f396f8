package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Shared exact-Jaccard pair derivation (the common core of TextOps.q74,
  * CorpusOps.q85/q113/q186 and CorpusOps.q89): an inverted-index self-join
  * on set elements over ONE shared postings exchange — pairs `ida < idb`,
  * intersections counted per pair, then Jaccard from the per-id set
  * sizes.
  *
  * Scale: an element shared by k ids emits k(k-1)/2 pairs, so the fan-out
  * is linear in total postings ONLY while no element is hot — a
  * boilerplate shingle in half the corpus (license headers, navigation
  * chrome) makes it quadratic, and AQE skew-splitting cannot shrink that
  * pair *cardinality*, only spread it. The `maxDf` document-frequency cap
  * is the guard: elements appearing in more than `maxDf` ids are dropped
  * (stop-shingles, the IR stop-word idea), which bounds the per-element
  * fan-out at maxDf²/2 and the total pair count at `maxDf/2 × |postings|`
  * — linear in postings again. Intersections then count only cold
  * elements while set sizes stay full-set, so a pair whose overlap is
  * pure boilerplate scores low — exactly the dedup behavior a 100 TB web
  * corpus wants. The postings relation (the corpus scan + shingle
  * explode) is derived once: the df aggregate, the stop-shingle
  * semi-filter and both self-join sides all cluster on the element key
  * and ride one repartition exchange.
  */
object Jaccard {

  /** Default stop-shingle document-frequency cap for corpus-sized id
    * domains (q74 / nearDupEdges). A shingle in more than this many
    * documents is boilerplate, not content; 256 bounds the per-element
    * pair fan-out at 256²/2 ≈ 33 k and the total candidate count at
    * 128 × |postings|. Mirrored as a literal in the DuckDB oracles —
    * change both together.
    */
  val StopShingleDf = 256L

  /** The join dressing for relations derived from postings under a df
    * cap: a finite `maxDf` means corpus-sized ids, so the relation is
    * pinned to a shuffled hash join (see [[pairs]]); an unbounded one
    * leaves join selection to the planner.
    */
  private[operators] def pinFor(maxDf: Long): DataFrame => DataFrame =
    if (maxDf == Long.MaxValue) identity else _.hint("shuffle_hash")

  /** Pairs `(ida, idb, inter, jac)` with `jac >= minJ`.
    *
    * @param postings distinct `(id, e)` rows — one per set element; ids
    *                 must be mutually comparable with `<`
    * @param sizes `(id, sz)` rows — the per-id distinct element count
    * @param minJ similarity floor (0.0 keeps every intersecting pair)
    * @param broadcastSizes broadcast the sizes lookup (right when the id
    *                       domain is small, e.g. languages; leave false
    *                       when ids are documents and sizes is scan-sized)
    * @param maxDf drop postings whose element occurs in more than this
    *              many ids before the self-join (stop-shingles). The
    *              default keeps every posting — right only when df is
    *              structurally bounded (q89: df ≤ #languages); pass an
    *              explicit cap whenever ids are corpus-sized.
    */
  def pairs(postings: DataFrame, sizes: DataFrame,
            minJ: Double, broadcastSizes: Boolean = false,
            maxDf: Long = Long.MaxValue): DataFrame = {
    // Shared-exchange spelling: the stop-shingle SEMI-filter and BOTH
    // self-join sides cluster on the element key over the SAME postings
    // subtree, so EnsureRequirements plans one canonical fat exchange
    // and ReusedExchange dedups the rest — the postings shuffle is
    // written once and re-read per side. The df leg deliberately stays a
    // separate aggregation: its partial combine runs map-side below its
    // own exchange, so what it ships is one count per distinct element
    // per task — a sliver — and its output lands already e-partitioned,
    // so the semi join adds NO further exchange. The cold-element list is
    // |distinct elements|-sized (almost everything is cold), which is why
    // it meets the postings as a distributed SEMI rather than the inverse
    // hot-list broadcast-ANTI: no driver round-trip sits on the path.
    // Every operator stays whole-stage codegen with bounded state: the
    // df agg carries one count per element and the SMJ self-join
    // materializes no lists. (A rejected spelling, measured: grouping
    // into per-element posting lists makes a hot element's list the
    // aggregation state and pushes the whole agg onto the object-hash
    // path, which falls back to sort-based at high element cardinality —
    // slower at sf0.1 and riskier at scale.)
    // When ids are corpus-sized (a finite maxDf is the caller's signal),
    // every relation here is O(corpus): the semi-filter's cold-element
    // list, both self-join sides, and the sizes lookup. The planner's
    // size ESTIMATES for them are catastrophically low — postings derive
    // from a cached relation through an explode (whose row multiplier the
    // estimator cannot see) and a to-two-columns projection (whose
    // width ratio SHRINKS the estimate ~100×), so at sf1 the r15 audit
    // caught the initial plan broadcasting the full 10M-row semi-filtered
    // postings as a hash-join build side (plans/r15/q74_…_sf1.txt) — a
    // shape that dies at the 8 GB/512M-row broadcast cap long before
    // 100 TB. Guide §3.1: when you know the estimate is wrong, pick the
    // strategy explicitly — SHUFFLE_HASH pins a shuffled hash join,
    // restoring the one-canonical-exchange contract (both self-join
    // sides and the df leg cluster on `e` over the same postings subtree
    // and ReusedExchange dedups) without sort-merge's full sort of the
    // postings on every side (measured at sf1: SMJ 34 s vs the hash
    // path ~23 s and an 8g-heap OOM from the stacked sorts; the SHJ
    // build side is one post-AQE partition of the hashed relation —
    // tens of MB at any corpus size once partitions are byte-sized).
    // maxDf == MaxValue callers (q89: df structurally bounded by the
    // id domain) keep the planner's freedom — their relations are small.
    val pin = pinFor(maxDf)
    val base =
      if (maxDf == Long.MaxValue) postings
      else {
        val colds = postings.groupBy(col("e")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select(col("e"))
        postings.join(pin(colds), Seq("e"), "left_semi")
      }
    val inter = base.as("a").join(pin(base.as("b")),
        col("a.e") === col("b.e") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("inter"))
    val dress: DataFrame => DataFrame =
      if (broadcastSizes) broadcast(_) else pin
    inter
      .join(dress(sizes.select(col("id").as("ida"), col("sz").as("sza"))), "ida")
      .join(dress(sizes.select(col("id").as("idb"), col("sz").as("szb"))), "idb")
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= minJ)
      .select(col("ida"), col("idb"), col("inter"), col("jac"))
  }

  /** [[pairs]] with the per-id set size CARRIED ON the postings —
    * `(id, e, sz)` rows, `sz` constant per id. The two sizes joins of
    * [[pairs]] re-shuffle the PAIR MASS by ida and again by idb (the two
    * largest exchanges in the plan after the postings self-join, r15's
    * q74 final-plan audit) just to attach 8 bytes that are functionally
    * dependent on the id; carrying them as one extra posting column
    * removes both joins, both pair re-shuffles and both sizes shuffles
    * outright (guide §2.4, §2.3 "shuffle keys and metadata instead of
    * payloads") for +8 bytes per posting through the one fat exchange —
    * pair mass is up to maxDf/2 × postings, so the trade is lopsidedly
    * right whenever a df cap is in play. `min(sz)` per pair side IS the
    * carried constant, so the output is bit-identical to [[pairs]].
    * Callers whose sz only exists as an aggregate of the postings
    * themselves (q89: distinct-token counts per language) stay on
    * [[pairs]].
    */
  def pairsCarried(postings: DataFrame, minJ: Double,
                   maxDf: Long = Long.MaxValue): DataFrame = {
    val pin = pinFor(maxDf)
    val base =
      if (maxDf == Long.MaxValue) postings
      else {
        val colds = postings.groupBy(col("e")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select(col("e"))
        postings.join(pin(colds), Seq("e"), "left_semi")
      }
    base.as("a").join(pin(base.as("b")),
        col("a.e") === col("b.e") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("inter"),
        min(col("a.sz")).as("sza"), min(col("b.sz")).as("szb"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= minJ)
      .select(col("ida"), col("idb"), col("inter"), col("jac"))
  }
}
