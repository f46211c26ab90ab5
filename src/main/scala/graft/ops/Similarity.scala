package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (query set x corpus — a broadcastable
  * join when the query set is small). Scale paths: sign-LSH bucketing with
  * deterministic integer hyperplanes (candidates shrink to bucket-mates),
  * IVF coarse quantization (candidates shrink to probed lists), and PQ/ADC
  * (per-candidate cost and corpus residency shrink to m code lookups);
  * all paths share the same codegen'd dot-product expressions (no UDFs).
  *
  * Deliberately absent: navigable-graph ANN (HNSW/NSW). Greedy graph
  * descent is an inherently sequential, pointer-chasing search with a
  * mutable build — the one ANN family with no good shuffle/partition
  * decomposition. The distributed-native picks above cover the same
  * recall/latency dials (probe count, band count, code budget) with plans
  * Catalyst can reason about.
  */
object Similarity {

  /** Cast float vector to double so arithmetic is engine-portable. */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-to-right dot product — same association order as DuckDB's
    * list_dot_product, so oracle values agree bit-for-bit. Backed by the
    * native codegen'd [[graft.functions.DotProduct]] expression: the HOF
    * formulation (its test twin) is semantically identical but its lambdas run
    * interpreted outside whole-stage codegen, which dominated the embedding
    * dedup/ANN hot paths.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(a), Bridge.expression(b)))
  }

  def l2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = try_divide(dot(a, b), l2(a) * l2(b))

  /** The corpus side of every search: (id, v) with v as doubles. */
  private def corpusVecs(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    embs.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))

  /** The query side of every search: (query_id, qv) for the rows of `queryPred`. */
  private def queryVecs(embs: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column): DataFrame =
    embs.where(queryPred)
      .select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))

  /** The cosine tail of the ANN paths: scores candidate (query_id, qv, id, v)
    * rows, keeps each query's top `k` by (rounded cosine desc, id asc) —
    * rounding first keeps the order engine-portable at equal similarities —
    * and returns (query_id, rank, neighbor_id, sim).
    */
  private def cosineTopK(candidates: DataFrame, k: Int): DataFrame =
    Skew.topK(candidates.withColumn("sim", round(cosine(col("qv"), col("v")), 6)),
      Seq(col("query_id")), Seq(col("sim").desc, col("id").asc), k)
      .select(col("query_id"), col("__rank").as("rank"), col("id").as("neighbor_id"), col("sim"))

  /** The seeded quantizer's centroids: the vectors of the `k` smallest ids
    * as one `cents` row, an array of (cid, cv) sorted by cid.
    */
  private def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy("id").limit(k)
      .agg(array_sort(collect_list(struct(col("id").as("cid"), col("v").as("cv"))))
        .as("cents"))

  /** (round(d², 6), cid) of `vc` to every centroid of the `cents` column;
    * v·v is hoisted to a per-row column (`vvCol`) so the k-way centroid
    * loop does one dot product per centroid, not three — float-identical
    * to the inline form, and the SQL twin's list_dot_product(v, v)
    * produces the same value either way.
    */
  private def centDist(vc: Column, vvCol: Column): Column = transform(col("cents"), c =>
    struct(
      round(vvCol - lit(2.0) * dot(vc, c.getField("cv"))
        + dot(c.getField("cv"), c.getField("cv")), 6).as("d2"),
      c.getField("cid").as("cid")))

  /** Assigns every (id, v) row to its nearest centroid of the one-row
    * `cents` table under (round(d², 6), cid): (id, v, cluster, d2).
    * Map-only against a broadcast.
    */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.withColumn("vv", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("best", array_min(centDist(col("v"), col("vv"))))
      .select(col("id"), col("v"), col("best.cid").as("cluster"), col("best.d2").as("d2"))

  /** Brute-force top-k cosine neighbors for a query subset.
    * Rank by (rounded cosine desc, neighbor id asc).
    */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame =
    cosineTopK(broadcast(queryVecs(embs, idCol, vecCol, queryPred))
      .join(corpusVecs(embs, idCol, vecCol), col("query_id") =!= col("id")), k)

  /** Sign-LSH bucket id (0..2^planes-1) per vector. Map-only: the native
    * codegen'd [[graft.functions.SignLshBucket]] expression computes every
    * plane's sign in one fused loop — the composed explode/HOF/groupBy
    * formulation (its test twin) costs a shuffle per bucket pass. The
    * hyperplane weights are integers, ((p*37 + d*11) mod 13) - 6 for plane p
    * and dim d, so sign decisions are engine-portable.
    */
  def lshBucket(embs: DataFrame, idCol: String, vecCol: String, planes: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    embs.select(col(idCol).as("id"),
      Bridge.column(graft.functions.SignLshBucket(
        Bridge.expression(toDoubleVec(col(vecCol))), planes)).as("bucket"))
  }

  /** Bucketed ANN: exact cosine only within the query's LSH bucket — the
    * scale path (bucket join instead of query x corpus). Single-probe;
    * see [[lshTopKMultiProbe]] for the recall-recovering variant.
    */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, planes: Int, k: Int): DataFrame =
    lshTopKMultiProbe(embs, idCol, vecCol, queryPred, planes, k, probeHamming = 0)

  /** Multi-probe bucketed ANN: each query probes its own bucket plus every
    * bucket within Hamming distance `probeHamming` of it (a near hyperplane
    * flips one sign bit, so the true neighbor is usually one bit away —
    * single-probe recall drops exactly there). probeHamming=1 probes
    * `planes + 1` buckets per query: candidate volume grows linearly with
    * planes while the corpus side stays a plain bucket equi-join, which is
    * the scale-correct shape (never query x corpus).
    */
  def lshTopKMultiProbe(embs: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, planes: Int, k: Int,
                        probeHamming: Int = 1): DataFrame = {
    require(probeHamming <= 1, "probeHamming > 1 multiplies candidates combinatorially")
    val buckets = lshBucket(embs, idCol, vecCol, planes)
    val corpus = corpusVecs(embs, idCol, vecCol).join(buckets, "id")
    val qs0 = queryVecs(embs, idCol, vecCol, queryPred)
      .join(buckets.select(col("id").as("query_id"), col("bucket").as("qbucket")), "query_id")
    // probe set: own bucket (+ each single-bit flip when probeHamming=1)
    val qs =
      if (probeHamming == 0) qs0.withColumn("probe", col("qbucket"))
      else qs0.select(col("query_id"), col("qv"),
        explode(array((col("qbucket") +:
          (0 until planes).map(p => col("qbucket").bitwiseXOR(lit(1L << p)))): _*))
          .as("probe"))
    // the probe values of one query are pairwise distinct buckets, so each
    // (query, candidate) pair joins through exactly one probe — no dedup
    cosineTopK(qs.join(corpus,
      col("probe") === col("bucket") && col("query_id") =!= col("id")), k)
  }

  /** IVF (inverted-file) ANN with a DETERMINISTIC seeded coarse quantizer:
    * the centroids are the vectors of the `nCentroids` smallest ids in the
    * corpus, and every vector joins the inverted list of its nearest
    * centroid under (round(d², 6) asc, centroid id asc) — a total order
    * both engines reproduce bit-for-bit, so unlike a fitted (KMeans)
    * quantizer the whole operator has an exact SQL twin (the driver's
    * DuckDB oracle replays it row-for-row). A query probes its `nProbe`
    * nearest lists and scores exact cosine only within them. d² is
    * composed from three left-to-right dot products (v·v − 2·v·c + c·c)
    * through the same codegen'd [[dot]] expression the scoring path uses,
    * so the float arithmetic matches DuckDB's list_dot_product association
    * exactly. List assignment is [[kmeansLloyd]]'s assignment against the
    * seeds.
    *
    * Scale shape: the centroid row is a one-row broadcast, list assignment
    * is MAP-ONLY (no fit job at all), and candidates flow through a plain
    * list_id equi-join — corpus × nProbe/nCentroids, never query × corpus.
    * Seeded centroids trade recall per probe against KMeans centroids;
    * probing more lists buys it back, which is the standard IVF dial.
    */
  def ivfSeededTopK(embs: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids)
    val e = corpusVecs(embs, idCol, vecCol)
    val cents = seedCentroids(e, nCentroids)
    val corpus = assign(e, cents).select(col("id"), col("v"), col("cluster").as("list_id"))
    val probes = queryVecs(embs, idCol, vecCol, queryPred)
      .withColumn("vv", dot(col("qv"), col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("probe",
        explode(slice(array_sort(centDist(col("qv"), col("vv"))), 1, nProbe)))
      .select(col("query_id"), col("qv"), col("probe.cid").as("list_id"))
    // each corpus vector lives in exactly one list, so a (query, candidate)
    // pair joins through at most one probe — no dedup needed
    cosineTopK(probes.join(corpus, Seq("list_id")).where(col("query_id") =!= col("id")), k)
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas, "Database-
    * friendly random projections", PODS 2001 — public: ±1 sign matrices
    * satisfy the JL lemma): maps `vecCol` to `outDim` dimensions via
    * out[i] = Σ_j v[j]·s(i,j) / √outDim with s(i,j) ∈ {−1, +1} drawn from
    * the engine's portable hash — fully deterministic, so the projection
    * has an exact SQL twin and is REPRODUCIBLE across engines, runs, and
    * cluster sizes (re-embedding a 100-TB corpus after a replanned job
    * yields byte-identical vectors).
    *
    * Scale shape: MAP-ONLY — the sign matrix never materializes (each
    * cell is a hash of (seed, i, j) computed inside the per-row
    * expression), so the op is a pure projection at O(dim·outDim) flops
    * per row feeding any downstream ANN at the reduced dimension.
    */
  def jlProject(embs: DataFrame, idCol: String, vecCol: String,
                outDim: Int, seed: Long = 42L): DataFrame = {
    require(outDim >= 1, "outDim must be >= 1")
    val v = toDoubleVec(col(vecCol))
    val invSqrt = 1.0 / math.sqrt(outDim.toDouble)
    def signRow(i: Column): Column =
      transform(sequence(lit(0), size(v) - 1), j =>
        (TextOps.portableHash64(concat_ws("#",
          lit(seed.toString), i.cast("string"), j.cast("string")))
          % lit(2L)).cast("double") * 2.0 - 1.0)
    // each output coordinate is ONE dot product against an in-expression
    // sign row — the same codegen'd left-to-right association as
    // DuckDB's list_dot_product, so the twin is bit-identical
    val proj = transform(sequence(lit(0), lit(outDim - 1)), i =>
      dot(v, signRow(i)) * invSqrt)
    embs.select(col(idCol).as("id"), proj.as("projected"))
  }

  /** Product-quantization ANN with Asymmetric Distance Computation
    * (Jégou, Douze, Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011 — public algorithm, original implementation):
    * the vector splits into `m` contiguous subspaces; subspace j's
    * codebook is the SEEDED pick (the `nCodes` smallest-id corpus
    * vectors, sliced to the subspace — the [[ivfSeededTopK]] determinism
    * convention, so the whole operator has an exact SQL twin); every
    * corpus vector encodes as m codebook POSITIONS (argmin of
    * (sub-d² micros, position)); a query scores a candidate by summing
    * its per-subspace (query-subvector → codeword) distances over the
    * candidate's codes.
    *
    * Distances live in integer MICRO-units (round(d²·1e6)) end to end, so
    * the m-term sum is order-free and bit-identical across engines.
    *
    * Scale shape: the codebook is a one-row broadcast; encoding and the
    * per-query ADC table are MAP-ONLY; scoring joins the broadcast query
    * side against corpus CODES — the same pair space as brute force but
    * each pair costs m lookup-adds instead of dim multiplies, and the
    * corpus resides as m small ints per vector instead of 8·dim bytes
    * (the memory-compression contract PQ exists for; compose with IVF
    * list pruning when the pair space itself must shrink).
    */
  def pqTopK(embs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, m: Int, nCodes: Int, k: Int): DataFrame = {
    require(m >= 1 && nCodes >= 1 && k >= 1, "m, nCodes, k must be positive")
    val e = corpusVecs(embs, idCol, vecCol)
    val cents = seedCentroids(e, nCodes)

    def sub(vec: Column, j: Column): Column = {
      val d = size(vec)
      slice(vec, (floor(j * d / lit(m)) + 1).cast("int"),
        (floor((j + lit(1)) * d / lit(m)) - floor(j * d / lit(m))).cast("int"))
    }
    def d2m(x: Column, c: Column): Column =
      round((dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c)) * 1e6, 0).cast("long")

    // corpus codes: codes[j] = 1-based position of the argmin codeword
    val codesCol = transform(sequence(lit(0), lit(m - 1)), j =>
      array_min(transform(col("cents"), (c, i) =>
        struct(d2m(sub(col("v"), j), sub(c.getField("cv"), j)).as("dm"),
          (i + 1).as("p")))).getField("p"))
    val corpus = e.crossJoin(broadcast(cents))
      .select(col("id"), codesCol.as("codes"))

    // query ADC tables: adc[j][p] = sub-d² micros to codeword p
    val adcCol = transform(sequence(lit(0), lit(m - 1)), j =>
      transform(col("cents"), c =>
        d2m(sub(col("qv"), j), sub(c.getField("cv"), j))))
    val queries = queryVecs(embs, idCol, vecCol, queryPred)
      .crossJoin(broadcast(cents))
      .select(col("query_id"), adcCol.as("adc"))

    val scored = corpus.crossJoin(broadcast(queries))
      .where(col("query_id") =!= col("id"))
      .withColumn("adist_micros", aggregate(sequence(lit(1), lit(m)), lit(0L),
        (acc, j) => acc +
          element_at(element_at(col("adc"), j), element_at(col("codes"), j))))
    Skew.topK(scored, Seq(col("query_id")), Seq(col("adist_micros").asc, col("id").asc), k)
      .select(col("query_id"), col("__rank").as("rank"), col("id").as("neighbor_id"),
        col("adist_micros"))
  }

  /** Fixed-iteration Lloyd k-means over an embedding column — the
    * embedding-clustering primitive (corpus bucketing, IVF list fitting,
    * topic-ish grouping) in a fully deterministic, engine-portable form:
    * centroids seed from the `k` lowest ids (the [[ivfSeededTopK]]
    * convention), then `iters` rounds of (assign, update). Assignment is
    * MAP-ONLY — a k-way argmin of (round(d2, 6), cid) against a one-row
    * broadcast centroid array, the same step IVF assigns its lists with;
    * the update is a posexplode partial-agg elementwise mean ROUNDED to 6
    * decimals, so both engines feed bit-identical centroids into the next
    * round and the integer cluster assignments can never drift on a
    * sub-ulp difference. A cluster that captures no points drops out of
    * the next round (standard Lloyd behavior). Returns the final
    * (id, cluster, d2) assignment.
    *
    * Scale shape per round: one broadcast (k·dim doubles), one map-only
    * pass, one (k·dim)-cell aggregate — no shuffle keyed on anything
    * larger than (cluster, pos), no driver-side vectors, and `iters`
    * bounds the job count.
    */
  def kmeansLloyd(embs: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, "need k >= 1, iters >= 0")
    val e = corpusVecs(embs, idCol, vecCol)
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cluster").as("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(round(avg("x"), 6).as("m"))
        .groupBy("cid")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))
    var cents = seedCentroids(e, k)
    for (_ <- 1 to iters) cents = update(assign(e, cents))
    assign(e, cents).select("id", "cluster", "d2")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with [[kmeansLloyd]],
    * compare cosine similarity only WITHIN a cluster, and inside every
    * pair at or above `minCos` drop the point CLOSER to its cluster
    * centroid — the paper's keep-the-lowest-centroid-similarity exemplar
    * rule, which preserves the cluster's outer (most diverse) shell.
    * Ties on the (rounded) centroid distance drop the larger id, so the
    * survivor set is a pure function of the input. Returns one row per
    * input point: (id, cluster, d2, dropped).
    *
    * Scale shape: the cluster assignment is [[kmeansLloyd]]'s map-only
    * broadcast argmin; the quadratic pair scan is bounded by cluster size
    * exactly as SemDeDup bounds it (k grows with the corpus so clusters
    * stay ~constant — the paper runs 50k clusters over LAION), with
    * [[graft.ops.Dedup.embeddingCosinePairs]]'s sign-LSH sub-blocking as
    * the in-plan guard for clusters that outgrow `maxBlock` anyway. The
    * loser vote and the final membership probe are equi-joins keyed on
    * point id.
    */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, minCos: Double,
               maxBlock: Long = 0L): DataFrame = {
    val a = kmeansLloyd(embs, idCol, vecCol, k, iters)
    val pts = a.join(corpusVecs(embs, idCol, vecCol), "id")
    val pairs = graft.ops.Dedup.embeddingCosinePairs(
      pts.select(col("id"), col("cluster"), col("v")), "id", "v", "cluster",
      minCos, maxBlock)
    val d2s = a.select(col("id"), col("d2"))
    val scored = pairs
      .join(d2s.select(col("id").as("a"), col("d2").as("d2a")), "a")
      .join(d2s.select(col("id").as("b"), col("d2").as("d2b")), "b")
    val losers = scored.select(
      when(col("d2a") < col("d2b"), col("a"))
        .when(col("d2a") > col("d2b"), col("b"))
        .otherwise(greatest(col("a"), col("b"))).as("id"))
      .distinct()
    a.join(losers.withColumn("__loser", lit(true)), Seq("id"), "left")
      .withColumn("dropped", coalesce(col("__loser"), lit(false)))
      .drop("__loser")
  }

  /** Per-group embedding centroids in long form: (group, pos, mean_val, n)
    * — the embedding-QC primitive (drifted or collapsed clusters show up
    * as centroid shifts / shrinking dispersion between snapshots).
    *
    * Shape: posexplode to (group, pos, value) and aggregate — the dim×
    * row blow-up is tamed by map-side partial aggregation (each partition
    * combines down to |groups|·dim cells before the shuffle), which is
    * also why this beats a driver-side vector fold at corpus scale.
    */
  def groupCentroids(embs: DataFrame, vecCol: String, byCol: String): DataFrame =
    embs.select(col(byCol).as("grp"),
      posexplode(toDoubleVec(col(vecCol))).as(Seq("pos", "v")))
      .groupBy("grp", "pos")
      .agg(avg("v").as("mean_val"), count(lit(1)).cast("bigint").as("n"))
      .select(col("grp").as(byCol), col("pos"), col("mean_val"), col("n"))
}
