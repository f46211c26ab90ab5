package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT similarity self-joins — the two classic record-linkage kernels
  * that the approximate dedup family (MinHash / SimHash / embedding LSH)
  * deliberately trades away. Both are COMPLETE at their thresholds (no
  * false negatives; the filters only prune pairs that provably cannot
  * qualify), and candidate generation is signature/filter-based — never
  * an all-pairs product.
  *
  *  - [[editDistancePairs]]: Levenshtein distance <= d via the PassJoin
  *    segment-signature pigeonhole (Li, Deng, Feng: "PASS-JOIN: a
  *    partition-based method for similarity joins", VLDB 2012 — public
  *    algorithm, original implementation).
  *  - [[prefixJaccardPairs]]: token-set Jaccard >= t via the frequency-
  *    ordered prefix filter (Chaudhuri/Ganti/Kaushik SSJoin + PPJoin
  *    family — public algorithm, original implementation).
  *
  * Reference scope note: mazlo/lodcc has no fuzzy matching at all (its
  * joins are exact URI equality); these close the exact-linkage gap next
  * to the engine's approximate canonicalization path
  * ([[graft.canon.Canonicalizer]]).
  */
object SimJoin {

  /** All (a, b, dist) id pairs with Levenshtein(str_a, str_b) <= maxDist,
    * a < b. EXACT: candidate generation is the PassJoin pigeonhole — split
    * each string into d+1 contiguous segments; if ed(s, t) <= d, at least
    * one segment of s is untouched by every edit and therefore occurs
    * VERBATIM in t, shifted by at most d positions. So indexing every
    * string's d+1 segments keyed on (segment text, segment index, source
    * length) and probing every string's substrings at the <= (2d+1)
    * lengths x (d+1) segments x (2d+1) positions that rule allows finds
    * every qualifying pair; survivors are verified with the real
    * `levenshtein`.
    *
    * Scale shape: per string the index emits d+1 rows and the probe emits
    * <= (2d+1)^2 (d+1) rows (75 at the default d=2) — linear in corpus
    * size with a small constant, joined on the composite (sub, i, l) key
    * whose length/index components split text-frequent segments across
    * buckets. Strings too short for the pigeonhole (len <= d) pair only
    * with strings of len <= 2d (ed >= length difference); that residual
    * block is alphabet-bounded in practice and sits behind an in-plan
    * `raise_error` guard at `maxShortBlock` distinct rows — the one
    * intentionally non-equi join in the op, bounded before it runs.
    *
    * Contract: `idCol` values are unique and totally ordered; one string
    * per id (pre-distinct the input).
    */
  def editDistancePairs(strs: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 2,
                        maxShortBlock: Int = 100000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(maxShortBlock > 0, "maxShortBlock must be positive")
    val d = maxDist
    val k = d + 1 // segments per string
    // not pinned (see graft.Pin): the index, the probe and both verify
    // joins read it inside one action
    val s = strs.select(col(idCol).as("id"), col(strCol).as("str"))
    val withLen = s.withColumn("l", length(col("str")))

    // integer segment boundaries of a length-l string into k parts:
    // seg i covers [floor(i*l/k)+1, floor((i+1)*l/k)] (1-based); every
    // segment is nonempty when l >= k. Products stay < 2^31 * k — exact
    // in the double division (< 2^53) on both engines.
    def segStart(i: Column, l: Column): Column =
      floor(i * l / lit(k)).cast("int") + lit(1)
    def segLen(i: Column, l: Column): Column =
      (floor((i + lit(1)) * l / lit(k)) - floor(i * l / lit(k))).cast("int")

    // ---- index: the d+1 segments of every pigeonhole-eligible string ----
    val idxKeys = withLen.where(col("l") >= k)
      .select(col("id"), col("str"), col("l"),
        explode(sequence(lit(0), lit(d))).as("i"))
      .select(col("id"), col("l"), col("i"),
        col("str").substr(segStart(col("i"), col("l")),
          segLen(col("i"), col("l"))).as("sub"))

    // ---- probe: substrings a matching segment could occupy --------------
    // for each hypothetical source length tl in [max(k, l-d), l+d], each
    // segment index, and each position within +-d of that segment's home
    val probeKeys = withLen
      .withColumn("tl", explode(when(col("l") >= 1,
        sequence(greatest(lit(k), col("l") - d), col("l") + d))
        .otherwise(array())))
      .withColumn("i", explode(sequence(lit(0), lit(d))))
      .withColumn("st", segStart(col("i"), col("tl")))
      .withColumn("sl", segLen(col("i"), col("tl")))
      .withColumn("p", explode(
        when(least(col("l") - col("sl") + 1, col("st") + d) >=
          greatest(lit(1), col("st") - d),
          sequence(greatest(lit(1), col("st") - d),
            least(col("l") - col("sl") + 1, col("st") + d)))
          .otherwise(array())))
      .select(col("id"), col("tl").as("l"), col("i"),
        col("str").substr(col("p"), col("sl")).as("sub"))

    val candsMain = idxKeys.as("x").join(probeKeys.as("y"),
        col("x.sub") === col("y.sub") && col("x.i") === col("y.i") &&
          col("x.l") === col("y.l") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))

    // ---- residual: both strings too short for the pigeonhole ------------
    // a len<=d string can only match strings of len <= 2d (ed >= |Δlen|);
    // pairs with a long partner are already covered by the main route
    // (the long side indexes, the short side probes)
    val short = withLen.where(col("l") <= d)
    val near = withLen.where(col("l") <= 2 * d)
    val nearGuarded = near
      .crossJoin(broadcast(near.agg(count(lit(1)).as("__nc"))))
      .where(when(col("__nc") > maxShortBlock,
        raise_error(concat(lit("editDistancePairs: short-string block has "),
          col("__nc").cast("string"),
          lit(s" rows (> maxShortBlock=$maxShortBlock); " +
            "normalize or pre-filter the short tail"))))
        .otherwise(lit(true)))
      .drop("__nc")
    val candsShort = short.as("x").join(nearGuarded.as("y"),
        col("x.id") =!= col("y.id") &&
          abs(col("x.l") - col("y.l")) <= d)
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))

    val cands = candsMain.union(candsShort).distinct()
    cands
      .join(s.select(col("id").as("a"), col("str").as("sa")), "a")
      .join(s.select(col("id").as("b"), col("str").as("sb")), "b")
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .where(col("dist") <= d)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo, "The merge/purge
    * problem for large databases", SIGMOD 1995 — public algorithm,
    * original implementation): records sorted by a blocking key, every two
    * records within `window` positions become a candidate pair — the
    * classic complement to hash/LSH blocking (catches near-dups whose keys
    * sort adjacently even when no shingle or band collides), O(n·window)
    * pairs by construction. Verification is the caller's composition
    * (levenshtein / Jaccard).
    *
    * Scale shape: the global rank is a range-repartitioned local sort +
    * zipWithIndex (same discipline as the vertex dictionaries — never a
    * single-task global window), and the windowed self-join is equi-ized
    * on rank/window buckets (each row probes its own and the previous
    * bucket), so both sides shuffle on a uniform 8-byte key. Returns
    * (a, b, rank_dist) with `a` the sort-earlier record; id and key are
    * string columns (cast upstream if needed); ties on the key order by
    * id, keeping the rank total and engine-portable.
    */
  def sortedNeighborhoodPairs(recs: DataFrame, idCol: String, keyCol: String,
                              window: Int, partitions: Int = 32): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val spark = recs.sparkSession
    import spark.implicits._
    val w = window
    val ranked = recs.select(col(keyCol).as("k"), col(idCol).as("id"))
      .repartitionByRange(partitions, col("k"), col("id"))
      .sortWithinPartitions("k", "id")
      .as[(String, String)].rdd.zipWithIndex()
      .map { case ((_, id), r) => (id, r) }
      .toDF("id", "rank")
    val bucket = (col("rank") / w).cast("long")
    val base = ranked.withColumn("bucket", bucket)
    val probe = ranked.select(col("id").as("idy"), col("rank").as("ranky"),
      explode(array(bucket, bucket - 1)).as("bucket"))
    base.join(probe, "bucket")
      .where(col("ranky") > col("rank") && col("ranky") - col("rank") < w)
      .select(col("id").as("a"), col("idy").as("b"),
        (col("ranky") - col("rank")).as("rank_dist"))
  }

  /** All ordered (a, b, containment) id pairs with
    * |tok(a) ∩ tok(b)| / |tok(a)| >= minC and a != b — ASYMMETRIC
    * subset/quote detection (a's token set mostly inside b's; both
    * directions are distinct pairs). EXACT via the containment prefix
    * filter: a's prefix is its |a| - ceil(minC*|a|) + 1 globally-rarest
    * tokens; if none of them occurs ANYWHERE in b, the overlap is at most
    * the remaining ceil(minC*|a|) - 1 tokens and the pair provably fails.
    * Unlike the Jaccard filter there is no size filter (b may be
    * arbitrarily large) and the probe joins a's prefix tokens against the
    * FULL posting lists — still anti-hot because prefixes are
    * df-ascending: a frequent token enters a prefix only for a document
    * made of almost nothing else, and rare tokens have short postings.
    *
    * Ids: rows sharing an id are one document, whose token set is the
    * union of theirs ([[tokenRows]]).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       minC: Double): DataFrame = {
    require(minC > 0.0 && minC <= 1.0, "minC must be in (0, 1]")
    val tok = tokenRows(docs, idCol, textCol)
    val cands = prefixFilter(tok, minC).as("x").join(tok.as("y"),
        col("x.token") === col("y.token") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    verifyOverlap(cands, setTable(tok, "token"), "containment", minC)(
      (inter, na, _) => inter.cast("double") / na)
  }

  /** All (a, b, jaccard) id pairs with token-set Jaccard >= minJ, a < b.
    * EXACT: candidate generation is the prefix filter — order every
    * document's distinct tokens by ascending global document frequency
    * (ties by token), keep only the first |x| - ceil(minJ*|x|) + 1 tokens
    * as its "prefix", and generate a candidate only when two prefixes
    * share a token. If J(x, y) >= t then |x ∩ y| >= ceil(t*|x|) and
    * >= ceil(t*|y|), so skipping a prefix entirely would leave too few
    * tokens to reach the required overlap — no true pair is pruned. The
    * size filter t*max(|x|,|y|) <= min(|x|,|y|) prunes further (J >= t
    * forces it). Survivors get the exact intersection ([[verifyOverlap]]).
    *
    * Scale shape: prefixes are the globally RAREST tokens of each doc, so
    * the candidate join key is anti-hot by construction — the frequent
    * tokens that would explode a naive token self-join never enter a
    * prefix unless a document consists of almost nothing else. One
    * token-keyed df aggregation, one doc-keyed window (high-cardinality
    * partition key — no skew), one prefix-token equi-join, one
    * intersection count: all equi-shuffles with map-side combine.
    *
    * Ids: rows sharing an id are one document, whose token set is the
    * union of theirs ([[tokenRows]]).
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         minJ: Double): DataFrame = {
    require(minJ > 0.0 && minJ <= 1.0, "minJ must be in (0, 1]")
    val tok = tokenRows(docs, idCol, textCol)
    val prefix = prefixFilter(tok, minJ)
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.token") === col("y.token") && col("x.id") < col("y.id") &&
          lit(minJ) * greatest(col("x.sz"), col("y.sz")) - Eps <=
            least(col("x.sz"), col("y.sz")))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    verifyOverlap(cands, setTable(tok, "token"), "jaccard", minJ)(jaccard)
  }

  /** Ulp-swallowing slack of the prefix and size pre-filters: a non-dyadic
    * threshold (0.7*20 = 14.000000000000002 in IEEE) must never over-prune
    * a pair sitting exactly ON the boundary; the exact verify is the only
    * place the threshold binds.
    */
  private val Eps = 1e-9

  /** The distinct (id, token) rows of the space-split `textCol`, empty
    * tokens dropped. Input rows that share an id merge into one token set:
    * the unique-id contract of the prefix joins. Not pinned: one action
    * reads it (see graft.Pin).
    */
  private def tokenRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(split(col(textCol), " +")).as("token"))
      .where(length(col("token")) > 0)
      .distinct()

  /** The frequency-ordered prefix of every set in `tok` (id, token) at
    * threshold `t`: its |x| - ceil(t*|x|) + 1 tokens of lowest global df
    * (ties by token), with the set size `sz`. Size and rank are two window
    * functions over ONE id-keyed exchange; the df join stays a plain
    * equi-join — AQE broadcasts the vocabulary when it is small, shuffles
    * it when a web-scale corpus makes it big.
    */
  private def prefixFilter(tok: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val byId = Window.partitionBy("id")
    tok.join(dfreq, "token")
      .withColumn("sz", count(lit(1)).over(byId))
      .withColumn("rn", row_number().over(byId.orderBy(col("df"), col("token"))))
      .where(col("rn") <= col("sz") - ceil(lit(t) * col("sz") - Eps) + 1)
      .select(col("id"), col("token"), col("sz"))
  }

  /** The (id, set) table of a distinct (id, element) table: one array per
    * id, the union of every row that carried it.
    */
  private[graft] def setTable(rows: DataFrame, element: String): DataFrame =
    rows.groupBy("id").agg(collect_list(col(element)).as("set"))

  /** Jaccard |A ∩ B| / |A ∪ B| from the overlap and the two set sizes. */
  private[graft] val jaccard: (Column, Column, Column) => Column =
    (inter, na, nb) => inter.cast("double") / (na + nb - inter)

  /** The one candidate-verify step of the set-similarity joins: each
    * candidate (a, b) ships its two sets of `sets` (id, set), joined on a
    * then on b, and keeps the pair when they overlap and
    * `score(|A ∩ B|, |A|, |B|) >= minScore`. Returns (a, b, `name`).
    *
    * Per-PAIR array intersection instead of the exploded (id, element)
    * double join + count + two size joins: a candidate ships 2 arrays,
    * not Σ|A ∩ B| rows (guide §2.3 — shuffle fewer bytes), and set sizes
    * fall out of the arrays. Keeping only overlapping pairs reproduces
    * the inner double join exactly: a pair with an empty intersection
    * produced no row there.
    *
    * Contract: `sets` holds one row per id. The set-join callers build it
    * with [[setTable]], which merges repeated ids. The canonicalizer's ids
    * are distinct by construction, so it adds no merge: `canonicalize`
    * reads a pinned `distinct` of the surfaces, and
    * `incrementalCanonicalize` a pinned `distinct` new batch anti-joined
    * against the prior dictionary's keys.
    */
  private[graft] def verifyOverlap(cands: DataFrame, sets: DataFrame, name: String,
                                   minScore: Double)(
                                   score: (Column, Column, Column) => Column): DataFrame = {
    val s = score(col("__inter"), size(col("__ha")), size(col("__hb")))
    cands
      .join(sets.select(col("id").as("a"), col("set").as("__ha")), "a")
      .join(sets.select(col("id").as("b"), col("set").as("__hb")), "b")
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))))
      .where(col("__inter") >= 1 && s >= minScore)
      .select(col("a"), col("b"), s.as(name))
  }
}
