package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin
import graft.algo.ConnectedComponents
import graft.extract.Extractor
import graft.ops.{Dedup, SimJoin}

/** Entity canonicalization (north rule): MinHash-LSH blocking over character
  * shingles of the normalized surface form, Jaccard verification, then the
  * iterative connected-components kernel merges transitive alias clusters.
  * Canonical id = lexicographically smallest member surface.
  *
  * Blocking keeps the pair space proportional to band-bucket collisions —
  * never |surfaces|^2 — and CC is the same large-star/small-star kernel used
  * for lodcc's largest-component measure (build once, use twice,
  * SURVEY.md §2.6 G3).
  */
object Canonicalizer {

  /** Star edges through the normalized form: for every group of surfaces
    * sharing one normalized form, one edge per member to the group hub
    * (min surface) — g-1 edges for a group of g, never the g²/2 of an
    * all-pairs self-join. CC output is identical (a star is connected),
    * but a popular normalized form ("the", OCR noise, boilerplate) stays
    * linear instead of exploding quadratically on one shuffle key.
    */
  private[graft] def exactNormEdges(withNorm: DataFrame): DataFrame = {
    val hubs = withNorm.groupBy("norm").agg(min("surface").as("hub"))
    withNorm.join(hubs, "norm")
      .where(col("surface") =!= col("hub"))
      .select(col("hub").as("src"), col("surface").as("dst"))
  }

  /** Appends `hs`, the hashed distinct char k-shingle set of `norm` — one
    * array column per surface, from which the signatures and the verify
    * sets both read. NATIVE codegen kernel (graft.functions.PortableMinhash):
    * the transform/array_min lambda chain is CodegenFallback (interpreted
    * per element); the compiled loop computes the identical values (OpsSpec
    * twin-equality).
    */
  private def withShingleHashes(withNorm: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    withNorm.withColumn("hs", Bridge.column(graft.functions.CharShingleHash31(
      Bridge.expression(col("norm")), k)))
  }

  /** (id = surface, mhs): the MinHash signature arrays of
    * [[withShingleHashes]] rows — MAP-ONLY, where the composed formulation
    * paid a distinct shuffle plus a coeff-crossJoin-groupBy shuffle; at
    * 10^8+ extracted surfaces those two shuffles dominate the
    * canonicalization stage. The array form feeds the LSH directly, so the
    * signature table never shuffles.
    */
  private def shingleSigs(withHs: DataFrame): DataFrame =
    withHs.select(col("surface").as("id"), Dedup.minhashSigs(col("hs")).as("mhs"))

  /** Character k-shingles of the normalized surface. */
  def charShingles(surfaces: DataFrame, k: Int): DataFrame = {
    val norm = Extractor.normalizeCol(col("surface"))
    surfaces
      .withColumn("norm", norm)
      .withColumn("sh_idx",
        when(length(col("norm")) >= k, sequence(lit(1), length(col("norm")) - (k - 1)))
          .otherwise(array(lit(1))))
      .select(col("surface"), col("norm"),
        explode(col("sh_idx")).as("i"))
      .select(col("surface"), col("norm").substr(col("i"), lit(k)).as("shingle"))
      .distinct()
  }

  /** surfaces(surface) -> (surface, canonical).
    *
    * Edges between surfaces: (a) identical normalized form; (b) MinHash-LSH
    * band collision verified at Jaccard >= minJ over char shingles.
    */
  def canonicalize(surfaces: DataFrame, shingleK: Int = 3,
                   rowsPerBand: Int = 2, minJ: Double = 0.5): DataFrame = {
    // pinned (see Pin): the edge build and the final join both read it
    val s = Pin.pin(surfaces.select(col("surface")).distinct())._1
    val withNorm = s.withColumn("norm", Extractor.normalizeCol(col("surface")))

    // (a) exact edges through the normalized form (star, not all-pairs)
    val exactEdges = exactNormEdges(withNorm)

    // (b) near-dup edges: MinHash-LSH candidates over char shingles,
    // verified at Jaccard >= minJ over the same shingle-hash sets
    val withHs = withShingleHashes(withNorm, shingleK)
    val cands = Dedup.minhashLshCandidatesArrays(shingleSigs(withHs), rowsPerBand)
    val verified = SimJoin.verifyOverlap(cands,
        withHs.select(col("surface").as("id"), col("hs").as("set")), "jaccard", minJ)(
        SimJoin.jaccard)
      .select(col("a").as("src"), col("b").as("dst"))

    // the CC kernel reads its edge input in one job, so the LSH + verify
    // joins run once
    val cc = ConnectedComponents.run(exactEdges.union(verified))
    // surfaces that collected no edge are their own canonical form
    s.join(cc.withColumnRenamed("vertex", "surface"), Seq("surface"), "left_outer")
      .select(col("surface"), coalesce(col("component"), col("surface")).as("canonical"))
  }

  /** MLlib-built-in variant (SURVEY.md §7.5): char shingles -> binary
    * HashingTF vectors -> `ml.feature.MinHashLSH.approxSimilarityJoin` at
    * Jaccard distance <= 1-minJ, then the same exact-normalization edges and
    * CC merge as [[canonicalize]]. Kept alongside the portable-hash
    * implementation; both must agree on the gazetteer clusters (CanonSpec).
    */
  def canonicalizeML(surfaces: DataFrame, shingleK: Int = 3,
                     numHashTables: Int = 8, minJ: Double = 0.5): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val s = Pin.pin(surfaces.select(col("surface")).distinct())._1
    val withNorm = s.withColumn("norm", Extractor.normalizeCol(col("surface")))
    val exactEdges = exactNormEdges(withNorm)

    val shingleSets = charShingles(s, shingleK)
      .groupBy("surface").agg(collect_set(col("shingle")).as("shingles"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val feats = tf.transform(shingleSets)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(feats)
    val pairs = model.approxSimilarityJoin(feats, feats, 1.0 - minJ, "jaccard_dist")
      .select(col("datasetA.surface").as("src"), col("datasetB.surface").as("dst"))
      .where(col("src") < col("dst"))

    val cc = graft.algo.ConnectedComponents.run(exactEdges.union(pairs))
    s.join(cc.withColumnRenamed("vertex", "surface"), Seq("surface"), "left_outer")
      .select(col("surface"), coalesce(col("component"), col("surface")).as("canonical"))
  }

  /** Incremental canonicalization with STABLE ids across snapshot builds —
    * the production contract of a daily KG rebuild: surfaces already in
    * `prior` keep their assignment verbatim (never re-clustered, never
    * renamed), and only genuinely new surfaces are resolved.
    *
    * Inputs: `prior` = (surface, canonical) from the previous build, with
    * canonical ∈ prior surfaces (it is the min member, as [[canonicalize]]
    * emits); `newSurfaces` = the current batch (prior members are
    * anti-joined out). Returns (surface, canonical) for the NEW surfaces
    * only — the updated dictionary is `prior UNION result`.
    *
    * Rules (all deterministic):
    *  - a new surface connects to other new surfaces and to prior surfaces
    *    by the SAME edge semantics as the batch path: identical normalized
    *    form (star edges through the group hub) or MinHash-LSH band
    *    collision verified at char-shingle Jaccard >= minJ;
    *  - prior endpoints are replaced by their canonical id (anchor) BEFORE
    *    the connected-components merge, so prior clusters participate as
    *    single anchor vertices — a prior cluster's internal structure is
    *    never recomputed;
    *  - a component containing >= 1 anchor assigns its new members the
    *    MINIMUM anchor id (the bridge rule: one new surface near two prior
    *    clusters inherits the smaller id; the prior clusters themselves
    *    stay distinct — stability beats global re-optimality, the standard
    *    production trade);
    *  - an anchor-free component mints its min member, exactly like the
    *    batch path; an edge-free new surface is its own canonical form.
    *
    * Scale shape: the prior table is touched by exactly ONE map-only
    * projection pass (normalize + shingle-hash + signature arrays — no
    * shuffle of prior rows except the band-bucket join itself, which is
    * keyed on 8-byte digests); at a daily-build cadence the prior band
    * table ([[graft.ops.Dedup.bandTable]]) and norm table are natural
    * TableIO snapshot citizens, making the increment independent of
    * |prior| entirely. The candidate join is new-side-driven (every pair
    * has >= 1 new surface — prior x prior pairs are never generated), so
    * pair volume is bounded by the new batch's bucket collisions, not the
    * corpus size.
    */
  def incrementalCanonicalize(prior: DataFrame, newSurfaces: DataFrame,
                              shingleK: Int = 3, rowsPerBand: Int = 2,
                              minJ: Double = 0.5): DataFrame = {
    // pm and nw are pinned (see Pin): the new-surface pin, CC's edge pin
    // and the final join each read them
    val pm = Pin.pin(prior.select(col("surface"), col("canonical")))._1
    val ps = pm.select(col("surface"))
      .withColumn("norm", Extractor.normalizeCol(col("surface")))
    val nw = Pin.pin(newSurfaces.select(col("surface")).distinct()
      .join(pm.select(col("surface")), Seq("surface"), "left_anti")
      .withColumn("norm", Extractor.normalizeCol(col("surface"))))._1

    // (a) exact-norm star edges over {new} ∪ {prior sharing a new norm}
    val tnorm = nw.select(col("norm")).distinct()
    val grp = nw.select(col("surface"), col("norm")).unionByName(
      ps.join(tnorm, Seq("norm"), "left_semi").select(col("surface"), col("norm")))
    val normEdges = exactNormEdges(grp)

    // (b) LSH candidates, new-side-driven: new bands join ALL bands
    val hsNew = withShingleHashes(nw, shingleK)
    val hsPrior = withShingleHashes(ps, shingleK)
    val bNew = Dedup.bandTable(shingleSigs(hsNew), rowsPerBand)
    val bAll = bNew.unionByName(Dedup.bandTable(shingleSigs(hsPrior), rowsPerBand))
    val cands = bNew.as("x").join(bAll.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .distinct()

    // verify candidates at char-shingle Jaccard >= minJ (new and prior
    // surfaces are disjoint: nw anti-joins the prior)
    val hsAll = hsNew.select(col("surface").as("id"), col("hs").as("set"))
      .unionByName(hsPrior.select(col("surface").as("id"), col("hs").as("set")))
    val verified = SimJoin.verifyOverlap(cands, hsAll, "jaccard", minJ)(SimJoin.jaccard)
      .select(col("a").as("src"), col("b").as("dst"))

    // anchor-replace prior endpoints, then one CC merge
    val edges0 = normEdges.union(verified)
    def anchorMap(alias: String): DataFrame =
      pm.select(col("surface").as(alias), col("canonical").as(s"${alias}_c"))
    val edges = edges0
      .join(anchorMap("__s"), col("src") === col("__s"), "left_outer")
      .join(anchorMap("__d"), col("dst") === col("__d"), "left_outer")
      .select(coalesce(col("__s_c"), col("src")).as("src"),
        coalesce(col("__d_c"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    // one read of this chain (bands + verify + anchor joins): CC's pin
    val cc = ConnectedComponents.run(edges)
    val anchors = pm.select(col("canonical").as("vertex")).distinct()
    val compAnchor = cc.join(anchors, "vertex")
      .groupBy("component").agg(min("vertex").as("anchor"))
    nw.select(col("surface"))
      .join(cc.withColumnRenamed("vertex", "surface"), Seq("surface"), "left_outer")
      .join(compAnchor, Seq("component"), "left_outer")
      .select(col("surface"),
        coalesce(col("anchor"), col("component"), col("surface")).as("canonical"))
  }

  /** Rewrite a triples table through the canonical map on subj and obj.
    * Plain equi-joins: AQE broadcasts the mapping when it is small (the
    * gazetteer-sized case) and shuffles both sides when a corpus-scale
    * dictionary makes a forced broadcast impossible — the earlier
    * `broadcast(mapping)` hint pinned the small-case plan and would OOM
    * the driver on a web-scale dictionary.
    */
  def applyTo(triples: DataFrame, mapping: DataFrame): DataFrame = {
    val m = mapping
    triples
      .join(m.select(col("surface").as("subj"), col("canonical").as("subj_c")), Seq("subj"), "left_outer")
      .join(m.select(col("surface").as("obj"), col("canonical").as("obj_c")), Seq("obj"), "left_outer")
      .select(
        col("conv_id"), col("turn_idx"),
        coalesce(col("subj_c"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_c"), col("obj")).as("obj"))
  }
}
