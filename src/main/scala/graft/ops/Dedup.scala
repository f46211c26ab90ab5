package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine. All are shuffle-bounded
  * by blocking (a pair is only materialized when a block key collides), the
  * standard web-scale shape — never an unblocked cross join.
  *
  * No internal pin of the multi-branch intermediates (the shingle table,
  * banded signatures): only the branches of one action read them
  * ([[graft.Pin]]'s rule). An A/B measurement showed lazy MEMORY_AND_DISK
  * marks made the dedup suite 2-4x SLOWER.
  */
object Dedup {

  /** Exact dedup by text hash: one row per duplicate group with the kept
    * (minimum) id and the group size.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Candidate pairs (a < b) sharing at least one k-token shingle with
    * document frequency <= `maxDf`, with EXACT Jaccard similarity over the
    * full shingle sets; `jaccard >= minJ` filters the final pair list.
    *
    * Blocking-key hygiene (the web-scale guard): without the df cap, the
    * candidate count is Σ df(shingle)² — one stop-shingle shared by 10⁶ docs
    * is a single-key ~10¹² pair explosion. Shingles with df > maxDf are
    * dropped from CANDIDATE GENERATION only; the Jaccard value itself is
    * still computed exactly over every shingle, so surviving pairs have
    * exact scores. Pairs whose only common shingles are hot ones are
    * missed — the standard, documented recall trade of df-capped blocking.
    * The cap is required (`maxDf >= 1`, default 1000); a cap at the
    * largest df of the data blocks nothing.
    *
    * Ids: rows sharing an id are one document, whose shingle set is the
    * union of theirs (the distinct (id, shingle) table feeds both the
    * blocking and the verify sets).
    *
    * This function is plan-construction only — no Spark job runs until the
    * caller acts on the result (the hot-shingle set is an anti-join inside
    * the plan, not a driver-side lookup).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, minJ: Double, maxDf: Int = 1000): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val sh = TextOps.shingles(docs, idCol, textCol, k)
      .select(col(idCol).as("id"), col("shingle")).distinct()
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
    val blocked = sh.join(broadcast(hot.select("shingle")), Seq("shingle"), "left_anti")
    val cands = blocked.as("x").join(blocked.as("y"), Seq("shingle"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    SimJoin.verifyOverlap(cands, SimJoin.setTable(sh, "shingle"), "jaccard", minJ)(
      SimJoin.jaccard)
  }

  /** Incremental-ingestion dedup: the rows of `docs` that are genuinely
    * NEW against a prior corpus snapshot — text hash not in `seenHashes`
    * (a `text_hash` column, e.g. a TableIO snapshot of previous batches'
    * [[exactGroups]] output) and first occurrence (minimum id) within the
    * batch itself. Appends `text_hash` so the caller can fold the result
    * back into the seen-set for the next batch.
    *
    * Scale shape: one left-anti equi-join on the hash against the seen
    * set (shuffle- or broadcast-joined, Spark's choice by size) plus one
    * min-id aggregation + semi-join for the intra-batch dedup — no sort
    * buffers, no windows, so a 10⁶-member dup cluster inside one batch
    * costs one counter, not one task's memory.
    */
  def incrementalNew(docs: DataFrame, seenHashes: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val h = docs.withColumn("text_hash", md5(col(textCol)))
    val novel = h.join(seenHashes.select("text_hash"), Seq("text_hash"), "left_anti")
    val firsts = novel.groupBy("text_hash").agg(min(col(idCol)).as("__keep"))
    novel.join(firsts,
      novel("text_hash") === firsts("text_hash") && col(idCol) === col("__keep"),
      "left_semi")
  }

  /** TF-IDF cosine-similar pairs (a < b) over whitespace tokens: candidate
    * pairs share at least one term with document frequency <= `maxDf`, the
    * cosine itself is EXACT over every term — the same two-phase shape as
    * [[ngramJaccardPairs]] (df-capped blocking for the bounded candidate
    * count, exact scoring over the full sparse vectors for the survivors).
    *
    * Conventions pinned for the cross-engine oracle: tf = raw term count,
    * idf = ln(N / df) with N = number of documents having at least one
    * non-empty token (so ubiquitous terms weigh 0 and hot terms barely
    * matter — which is also why the df cap costs little recall here),
    * empty tokens dropped on both engines.
    *
    * The df cap is required (`maxDf >= 1`, default 1000).
    *
    * Scale shape: everything is keyed on the term or the (a, b) pair —
    * tf/df/norm are single aggregations, candidate generation only joins
    * df-capped postings, and the exact-dot join ships each candidate pair
    * once per SHARED term. N rides the plan as a broadcast 1-row aggregate
    * (no driver-side count — construction stays job-free).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       minCos: Double, maxDf: Int = 1000): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val w = TextOps.tfidfWeights(docs, idCol, textCol)
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val blocked = w.where(col("df") <= maxDf)
    val cands = blocked.select(col("id"), col("term")).as("x")
      .join(blocked.select(col("id").as("id2"), col("term")).as("y"), "term")
      .where(col("id") < col("id2"))
      .select(col("id").as("a"), col("id2").as("b"))
      .distinct()
    val dot = cands
      .join(w.select(col("id").as("a"), col("term"), col("w").as("wa")), "a")
      .join(w.select(col("id").as("b"), col("term"), col("w").as("wb")), Seq("b", "term"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(norms.select(col("id").as("a"), col("nrm").as("na")), "a")
      .join(norms.select(col("id").as("b"), col("nrm").as("nb")), "b")
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .where(col("cosine") >= minCos)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** (a_i, b_i) coefficients for the portable MinHash family — literal so
    * the DuckDB oracle twin uses the identical family.
    */
  val MinhashCoeffs: Seq[(Long, Long)] = Seq(
    (387563L, 1759177L), (817237L, 932587L), (523541L, 144611L), (995837L, 662833L),
    (317489L, 875929L), (661393L, 421807L), (739217L, 582341L), (258911L, 742297L))
  val MinhashPrime = 2147483647L

  /** The portable MinHash signature of a shingle-hash array `hs`: `mhs[i]`
    * = min over h of (a_i * h + b_i) mod [[MinhashPrime]], for the
    * [[MinhashCoeffs]] family. h31 keeps a_i * h < 2^51 — no overflow
    * under ANSI mode.
    *
    * NATIVE codegen kernel (graft.functions.PortableMinhash): the composed
    * transform/array_min lambdas are CodegenFallback and evaluate
    * interpreted at ~10 ms/row — multiplied by every plan branch that
    * re-inlines the projection. One compiled loop per row computes the
    * identical values (OpsSpec pins bit-equality against the composed
    * twin).
    */
  private[graft] def minhashSigs(hs: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.MinhashSigs(Bridge.expression(hs),
      MinhashCoeffs.map(_._1), MinhashCoeffs.map(_._2), MinhashPrime))
  }

  /** MinHash signatures over k-token shingles: one MAP-ONLY row per
    * document, `mhs[i]` = the i-th minhash ([[minhashSigs]]). This is the
    * shape [[minhashLshCandidatesArrays]] consumes — the signature table
    * NEVER shuffles (banding, the full-signature digest, and the collapse
    * key are all per-row projections). The shingle set, its hashes, and
    * all k minima are array expressions inside one projection — the
    * composed twin (in the tests) pays a distinct shuffle plus a
    * coeff-crossJoin-groupBy shuffle for the same result. Documents with
    * no shingle (shorter than shingleK tokens) emit no row.
    */
  def minhashSignatureArrays(docs: DataFrame, idCol: String, textCol: String,
                             shingleK: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val toks = TextOps.tokens(col(textCol))
    val hashed = docs.where(size(toks) >= shingleK)
      .select(col(idCol).as("id"),
        Bridge.column(graft.functions.TokenShingleHash31(
          Bridge.expression(toks), shingleK)).as("hs"))
    // the short-doc filter tests the CHEAP precursor (token count), never
    // size(hs): a size(hs) > 0 filter gets predicate-pushed below any
    // downstream exchange with the whole md5-shingle transform INLINED into
    // the filter condition — one full extra hashing pass per row per plan
    // branch (the sf0.1 plan audit showed exactly that)
    hashed.select(col("id"), minhashSigs(col("hs")).as("mhs"))
  }

  /** LSH candidate pairs over the MAP-ONLY array signatures
    * ([[minhashSignatureArrays]]): band signatures of `rowsPerBand`
    * minhashes; two docs are candidates iff at least one band signature
    * matches. Returns distinct (a, b) with a < b. Banding, the band
    * digests, and the full-signature collapse key are all per-row
    * projections, so the signature table itself never shuffles. The wide
    * stages are the band self-join and, with collapse on, the rep window,
    * each keyed on an 8-byte xxhash64 digest.
    *
    * Duplicate-cluster collapse (the web-scale guard): documents whose FULL
    * signature vectors are identical — exact duplicates and
    * minhash-indistinguishable near-duplicates — share every band signature,
    * so the banded self-join would put a cluster of g such documents on one
    * (band, sig) key and materialize g²/2 pairs; real corpora carry
    * 10⁵–10⁶-member boilerplate clusters, a single-key 10¹⁰+ explosion.
    * With `collapse=true` (default) each identical-signature group is
    * reduced to its min-id representative before banding and re-expanded as
    * star edges (rep, member) afterward — g-1 rows per cluster, plus the
    * representative's cross-cluster band collisions. The collapsed pair list
    * is a SUBSET of the uncollapsed one (stars are trivially band
    * collisions) with the SAME transitive closure: any uncollapsed pair
    * (a, b) is bridged as a—rep_a—rep_b—b, because identical signatures
    * collide on exactly the same bands.
    *
    * Verify-then-merge caveat: the closure equality above is a statement
    * about the CANDIDATE graph. A consumer that verifies candidates with a
    * metric FINER than signature identity (exact Jaccard, as in
    * [[graft.canon.Canonicalizer.canonicalize]]) can diverge on one
    * specific shape: members of an identical-signature group that are NOT
    * actually near-duplicates (a coincidental all-k-minima collision,
    * probability ~J^k per pair — 0.45^8 ≈ 2e-3 at the default family)
    * have their member—member pair replaced by star pairs that verification
    * may reject where the member pair would have passed. Groups whose
    * members share identical shingle sets — exact duplicates and the
    * boilerplate clusters this collapse exists for — are EXACTLY preserved:
    * their stars have Jaccard 1 and pass any threshold, so verified
    * components match the uncollapsed ones. Coincidental-collision
    * clusters of size >2 essentially require identical shingle sets
    * anyway (every pair must collide independently), which is why the
    * residual divergence is per-pair rare rather than cluster-scale.
    * `collapse=false` restores the literal all-pairs banding (test-scale /
    * exhaustive-pair-list use, or verify-then-merge runs where that
    * last-decimal recall matters more than the g² dup-cluster guard).
    * [[simhashPairs]] has no such caveat: its verification metric (Hamming
    * distance on the simhash) is fully determined by its collapse key.
    *
    * One branch, one signature pass: exchange reuse only merges identical
    * subtrees, so branches that read the signature projection with
    * different columns or filters each re-run the md5-heavy
    * shingle+minhash pass (a min-id aggregate joined back reads it
    * twice). One window `min(id) over (partition by fullsig)` names each
    * row's rep, and one `explode_outer` emits the rep's band rows or a
    * member's single null-band row, its star edge; the band self-join and
    * the stars both read that frame, so they share the window's one
    * exchange. A hot identical-signature group costs one task's spillable
    * sort.
    *
    * Digest collision class: xxhash64 on the minhash array — injective up
    * to 64-bit collisions, the same acceptance class as the md5 text keys
    * in [[exactGroups]] (a collision at worst adds one spurious candidate —
    * candidates are verified downstream — or merges two signature groups,
    * ~n²/2⁶⁵ odds).
    */
  def minhashLshCandidatesArrays(sigArrays: DataFrame, rowsPerBand: Int,
                                 collapse: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bandPairs(b: DataFrame): DataFrame =
      b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"))
        .distinct()
    if (!collapse) bandPairs(bandTable(sigArrays, rowsPerBand))
    else {
      // rep = min id of the row's identical-signature group; only reps band
      val rows = sigArrays
        .select(col("id"), xxhash64(col("mhs")).as("fullsig"), bands(rowsPerBand).as("__bands"))
        .withColumn("rep", min(col("id")).over(Window.partitionBy("fullsig")))
        .select(col("id"), col("rep"),
          explode_outer(when(col("id") === col("rep"), col("__bands"))).as("__b"))
      val stars = rows.where(col("id") =!= col("rep"))
        .select(col("rep").as("a"), col("id").as("b")) // rep = min id, so a < b
      bandPairs(rows.where(col("id") === col("rep"))
        .select(col("id"), col("__b.band").as("band"), col("__b.sig").as("sig"))).union(stars)
    }
  }

  /** The band digests of `mhs` as one array: a (band, sig) struct per
    * band of `rowsPerBand` minhashes, `sig` = xxhash64 of its slice. */
  private def bands(rowsPerBand: Int): Column = {
    val nb = ((size(col("mhs")) + lit(rowsPerBand - 1)) / lit(rowsPerBand)).cast("int")
    transform(sequence(lit(0), nb - 1),
      b => struct(b.cast("int").as("band"),
        xxhash64(slice(col("mhs"), b * rowsPerBand + 1, lit(rowsPerBand))).as("sig")))
  }

  /** Exploded band table over array signatures: (id, band, sig) with one
    * row per band, `sig` = the xxhash64 digest of that band's minhash
    * slice — the SAME banding convention as [[minhashLshCandidatesArrays]]
    * but exposed as a table, for consumers that join band buckets across
    * TWO signature sets (e.g. incremental canonicalization probing a new
    * batch against a persisted prior band table) instead of running the
    * single-set self-join.
    *
    * `explode_outer` here and in [[minhashLshCandidatesArrays]]: a plain
    * explode triggers InferFiltersFromGenerate, whose size(...) > 0
    * predicate is pushed below the exchange with the whole bands+minhash
    * tree inlined into it — one more hashing pass per row per plan branch
    * (measured 45x wall-time at sf0.1). A null band array yields one
    * null-band row, which joins nothing.
    */
  def bandTable(sigArrays: DataFrame, rowsPerBand: Int): DataFrame =
    sigArrays.select(col("id"), explode_outer(bands(rowsPerBand)).as("__b"))
      .select(col("id"), col("__b.band").as("band"), col("__b.sig").as("sig"))

  /** SimHash near-dup pairs with pigeonhole banding over a `bits`-wide
    * SimHash (default 60): the hash splits into `maxHamming + 1` bands, so
    * any pair with Hamming distance <= maxHamming must agree on at least one
    * whole band — the banded equi-join is a LOSSLESS blocking, never an
    * unblocked cross join. Each band key is ~bits/(maxHamming+1) wide
    * (15 bits at the defaults -> 32,768 distinct keys per band), which keeps
    * buckets selective at web scale — the 16-bit variant's 16 values per
    * nibble band collapse into enormous buckets at >=10^8 docs.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, bits: Int = 60,
                   collapse: Boolean = true): DataFrame = {
    val bands = maxHamming + 1
    require(bits >= bands, s"need at least one bit per band ($bands bands)")
    // variable-width contiguous bands (widths differ by <= 1) so EVERY band
    // covers real hash bits: with the old uniform ceil width, a band whose
    // bit range lay entirely above `bits` (e.g. maxHamming=30 at bits=60)
    // had key 0 for every document — that band's self-join degenerated into
    // an unblocked all-pairs candidate explosion (ADVICE r2). Pigeonhole
    // losslessness is unchanged: bands disjoint bands cover all bits, so a
    // pair within maxHamming Hamming distance agrees on at least one band.
    val baseW = bits / bands
    val widths = Array.tabulate(bands)(b => baseW + (if (b < bits % bands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sh0 = TextOps.simhash(docs, idCol, textCol, bits)
      .select(col(idCol).as("id"), col("simhash"))
    // identical-simhash collapse: a cluster of g equal hashes (exact dups,
    // templated boilerplate) shares every band key — banding it directly
    // costs g²/2 pairs on one key. Collapse to the min-id representative,
    // band representatives only, re-expand as (rep, member, hamming=0) star
    // rows. Subset-with-equal-closure semantics as in
    // [[minhashLshCandidatesArrays]]: hamming(a, b) = hamming(rep_a, rep_b) when
    // signatures are equal, so every dropped pair is bridged through stars.
    val sh = if (collapse) sh0.groupBy("simhash").agg(min("id").as("id"))
      .select(col("id"), col("simhash")) else sh0
    val bandSpec = array((0 until bands).map { b =>
      struct(lit(b).as("band"), lit(offsets(b)).as("off"),
        lit((1L << widths(b)) - 1).as("mask"))
    }: _*)
    val banded = sh.select(col("id"), col("simhash"), explode(bandSpec).as("bs"))
      .select(col("id"), col("simhash"), col("bs.band").as("band"),
        expr("shiftright(simhash, bs.off) & bs.mask").as("key"))
    val repPairs = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
    if (!collapse) repPairs
    else {
      val stars = sh0.join(sh.select(col("id").as("rep"), col("simhash")), "simhash")
        .where(col("id") =!= col("rep"))
        .select(col("rep").as("a"), col("id").as("b"), lit(0).cast("int").as("hamming"))
      repPairs.union(stars)
    }
  }

  /** Embedding near-dup pairs within a blocking key, cosine >= minCos.
    *
    * The pair count is quadratic WITHIN each block, so when `maxBlock > 0`
    * any block larger than that is sub-blocked by a deterministic sign-LSH
    * bucket (`subBlockPlanes` hyperplanes) before the self-join — bounding
    * the quadratic term at the cost of missing pairs that a hyperplane
    * separates inside an oversized block (documented recall trade; blocks
    * of size <= maxBlock keep their plain key, so their pairs are exact).
    * The size test is a PER-ROW conditional inside the plan (block-sizes
    * aggregation joined back), so plan construction runs no Spark job.
    * `maxBlock <= 0` keeps the exact all-pairs behavior.
    */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, minCos: Double,
                           maxBlock: Long = 0L, subBlockPlanes: Int = 4): DataFrame = {
    val e0 = embs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      Similarity.toDoubleVec(col(vecCol)).as("v"))
    val blockSizes = e0.groupBy("blk").agg(count(lit(1)).as("bsz"))
    val e =
      if (maxBlock > 0) {
        val buckets = Similarity.lshBucket(
          e0.select(col("id"), col("v").as("vec")), "id", "vec", subBlockPlanes)
        e0.join(blockSizes, "blk").join(buckets, "id")
          .withColumn("blk",
            when(col("bsz") > maxBlock,
              concat(col("blk").cast("string"), lit("#"), col("bucket").cast("string")))
              .otherwise(col("blk").cast("string")))
          .select("id", "blk", "v")
      } else e0
    e.as("x").join(e.as("y"), col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
      .withColumn("cos", Similarity.cosine(col("x.v"), col("y.v")))
      .where(col("cos") >= minCos)
      .select(col("x.id").as("a"), col("y.id").as("b"), col("cos"))
  }

  /** Cross-document duplicate-SPAN detection — the substring-level dedup
    * signal (cf. Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": repeated spans, not just whole-doc dups,
    * drive memorization). Whole-doc ops above miss a boilerplate paragraph
    * pasted into otherwise-distinct pages; this finds it.
    *
    * Each document is cut into fixed `width`-char windows at `stride`
    * offsets (positions 0, stride, 2*stride, … ≤ len-width; docs shorter
    * than `width` contribute no spans and no output row). A span whose
    * content hash occurs in >= 2 DISTINCT documents is "duplicated".
    * Returns one row per spanned doc: `n_spans`, `dup_spans`, `dup_frac`.
    *
    * Stride sampling is the scale trade vs a suffix array: a shared
    * substring is only caught when some window of it is sampled at the
    * same alignment in both docs, so recall rises as stride shrinks
    * (stride=1 guarantees any shared substring of length >= width is
    * caught — at width x the span volume). Span volume is
    * n_chars/stride rows — linear in corpus size; the hot-hash table is
    * bounded by actually-duplicated content. Two shuffles (hash count +
    * hash join back), both equi-keyed on the span hash, never all-pairs.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     width: Int = 40, stride: Int = 20): DataFrame = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    val spans = docs
      .select(col(idCol).as("id"), col(textCol).as("t"), length(col(textCol)).as("len"))
      .where(col("len") >= width)
      .select(col("id"),
        explode(sequence(lit(0), col("len") - width, lit(stride))).as("p"), col("t"))
      .select(col("id"), md5(col("t").substr(col("p") + 1, lit(width))).as("h"))
    val hot = spans.groupBy("h").agg(countDistinct(col("id")).as("ndocs"))
      .where(col("ndocs") >= 2).select(col("h"), lit(1L).as("__dup"))
    spans.join(hot, Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("__dup")), lit(0L)).as("dup_spans"))
      .withColumn("dup_frac",
        col("dup_spans").cast("double") / col("n_spans").cast("double"))
  }
}
