package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gfunctions.xxh64_hex

/** Triples -> hashed edge table + vertex dictionary (lodcc S5/S7/S11/S12
  * analogs, `graph/building/edgelist.py:36-148`).
  *
  * The edge table IS the graph — there is no mutable graph object. The vertex
  * dictionary (hash -> surface form) is materialized at build time, which
  * makes lodcc's brute-force reverse scan (`graph/extras/bfv.py:60-91`)
  * a plain broadcast join by construction.
  */
object GraphTables {

  /** (subj, pred, obj) -> (src, dst, label) xxh64-hex hashed edge rows,
    * byte-parity with lodcc's edgelist lines (`edgelist.py:79-83`). */
  def edges(triples: DataFrame): DataFrame =
    triples.select(
      xxh64_hex(col("subj")).as("src"),
      xxh64_hex(col("obj")).as("dst"),
      xxh64_hex(col("pred")).as("label"))

  /** Vertex dictionary: distinct (vhash, surface) over subjects+objects. */
  def vertices(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("surface"))
      .union(triples.select(col("obj").as("surface")))
      .distinct()
      .select(xxh64_hex(col("surface")).as("vhash"), col("surface"))

  /** Dense-int vertex encoding (lodcc S11, `edgelist.py:108-148`).
    * The reference uses insertion order; we pin a deterministic lexicographic
    * order instead (documented deviation — the ids are only group keys).
    *
    * Scale shape: a global `row_number()` window would pull the entire vertex
    * set through one task (a guaranteed straggler at the reference's own 614M
    * vertices). Instead: range-repartition on vhash + sort within partitions
    * (a distributed sort, every partition a contiguous ordered slice), then
    * `zipWithIndex` — which assigns globally consecutive ids with one extra
    * count job and no single-partition stage.
    */
  def vertexIds(edges: DataFrame, partitions: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val vs = edges.select(col("src").as("vhash"))
      .union(edges.select(col("dst").as("vhash"))).distinct()
    vs.repartitionByRange(partitions, col("vhash"))
      .sortWithinPartitions("vhash")
      .as[String].rdd
      .zipWithIndex()
      .toDF("vhash", "vid")
  }

  /** Insertion-order vertex dictionary — the reference's LITERAL id
    * assignment (`edgelist.py:124-136`: a dict filled while scanning the
    * edgelist top to bottom, subject before object on each line), closing
    * the documented [[vertexIds]] deviation when the caller has an explicit
    * per-edge order column (N-Triples line number / edgelist row id):
    * first_seen(v) = min over v's edges of (2*ord | 2*ord+1) for
    * subject | object slots, and ids are consecutive in first_seen order
    * (ties — possible when ordCol is not unique per edge — break on the
    * vertex value, keeping the order total and engine-portable).
    * Same scale shape as [[vertexIds]]: range-repartition + local sort +
    * zipWithIndex — a distributed sort, never a global single-task window.
    */
  def vertexIdsFirstSeen(edges: DataFrame, ordCol: String,
                         partitions: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val firstSeen = edges
      .select(col("src").as("vhash"), (col(ordCol).cast("long") * 2).as("ord"))
      .union(edges.select(col("dst").as("vhash"),
        (col(ordCol).cast("long") * 2 + 1).as("ord")))
      .groupBy("vhash").agg(min("ord").as("first_seen"))
    firstSeen
      .repartitionByRange(partitions, col("first_seen"), col("vhash"))
      .sortWithinPartitions("first_seen", "vhash")
      .as[(String, Long)].rdd
      .zipWithIndex()
      .map { case ((v, _), i) => (v, i) }
      .toDF("vhash", "vid")
  }

  /** Integer edgelist: join edges through the vertex-id dictionary twice. */
  def intEdges(edges: DataFrame, ids: DataFrame): DataFrame =
    edges
      .join(ids.withColumnRenamed("vhash", "src").withColumnRenamed("vid", "src_id"), "src")
      .join(ids.withColumnRenamed("vhash", "dst").withColumnRenamed("vid", "dst_id"), "dst")
      .select(col("src_id"), col("dst_id"), col("label"))

  /** Simple undirected edge set: dedup + drop self loops, canonical a<b. */
  def simpleUndirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** (v, d): each vertex's degree in a [[simpleUndirected]] edge set. */
  private[graft] def simpleDegree(simple: DataFrame): DataFrame =
    simple.select(col("a").as("v")).union(simple.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** (key, xs): the sorted items of each key of the distinct (key, item)
    * `rows` holding 2 to `cap` items. Keys over the cap are dropped before
    * any `collect_list`, so no array exceeds `cap` (no hot-key OOM). */
  private[graft] def cappedFold(rows: DataFrame, cap: Int): DataFrame =
    rows.withColumn("n", count(lit(1)).over(Window.partitionBy("key")))
      .where(col("n").between(2, cap))
      .groupBy("key").agg(sort_array(collect_list(col("item"))).as("xs"))

  /** (n, a, b): each pair a < b of every [[cappedFold]] array of size n,
    * emitted once by the native [[graft.functions.ArrayPairs]] kernel. */
  private[graft] def cappedPairs(rows: DataFrame, cap: Int): DataFrame =
    cappedFold(rows, cap)
      // explode_outer: a plain explode infers a size(ArrayPairs(xs)) > 0
      // filter that builds every pair array twice (arrays here are never empty)
      .select(size(col("xs")).as("n"), explode_outer(
        org.apache.spark.sql.graft.Bridge.column(graft.functions.ArrayPairs(
          org.apache.spark.sql.graft.Bridge.expression(col("xs"))))).as("p"))
      .select(col("n"), col("p.a").as("a"), col("p.b").as("b"))

  /** Bipartite co-occurrence projection: item pairs (a < b) sharing a
    * context, with the shared-context count as the edge weight — the
    * entity co-mention graph of KG construction (context = conversation,
    * item = entity). A context contributes each distinct item once.
    *
    * `maxContextDf` is the hub guard, the same blocking-key hygiene as
    * the dedup family: a context containing d distinct items emits d²/2
    * pairs, so one 10⁶-entity hub context is a single-key 10¹²-pair
    * explosion — contexts with more than `maxContextDf` distinct items
    * are dropped from pair generation entirely (logged recall trade, the
    * web-scale default). One [[cappedPairs]] fold, one count per pair;
    * never an unblocked cross join.
    */
  def coOccurrence(pairs: DataFrame, contextCol: String, itemCol: String,
                   maxContextDf: Int = 1000): DataFrame = {
    require(maxContextDf >= 2, "maxContextDf must be >= 2")
    val t = pairs.select(col(contextCol).as("key"), col(itemCol).as("item"))
      .distinct()
    cappedPairs(t, maxContextDf)
      .groupBy("a", "b").agg(count(lit(1)).as("weight"))
  }

  /** Bounded property-path reachability (SPARQL `src p{1,maxHops} dst` /
    * Cypher variable-length pattern): the distinct (origin, v, hops) pairs
    * where `hops` is the MINIMUM number of `edgeLabel` edges from an
    * origin passing `srcFilter` (a predicate over `src`) to v,
    * 1 <= hops <= maxHops.
    *
    * Frontier BFS as iterated equi-joins: hop h+1 joins the hop-h frontier
    * to the (deduplicated) label-filtered edge set, and a left-anti join
    * against everything already reached keeps the semantics min-hop AND
    * caps the frontier at O(origins x vertices) rows — without it a dense
    * graph re-derives every short path through every longer one
    * (exponential path count, the classic transitive-closure blow-up).
    * All joins are key-partitioned shuffles on vertex ids; nothing is
    * collected, and maxHops bounds the job count, so the plan is the same
    * shape a 1000-executor run wants. Building the plan runs one pin job:
    * the label-filtered edge set every hop reads.
    */
  def kHop(edges: DataFrame, edgeLabel: String, srcFilter: Column,
           maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // pinned once: every hop joins the frontier against this set, and the
    // lazy form re-ran the scan + filter + dedup shuffle per hop
    val e = graft.Pin.pin(edges.where(col("label") === edgeLabel)
      .select(col("src"), col("dst")).distinct())._1
    val hop1 = e.where(srcFilter)
      .select(col("src").as("origin"), col("dst").as("v")).distinct()
    var all = hop1.withColumn("hops", lit(1))
    var frontier = hop1
    for (h <- 2 to maxHops) {
      val next = frontier.as("f").join(e.as("e"), col("f.v") === col("e.src"))
        .select(col("f.origin").as("origin"), col("e.dst").as("v")).distinct()
      val fresh = next.join(all.select("origin", "v"), Seq("origin", "v"), "left_anti")
      all = all.unionByName(fresh.withColumn("hops", lit(h)))
      frontier = fresh
    }
    all
  }

  /** Deterministic seeded random walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. 2014): `nWalks` walks of `steps` steps start
    * from every vertex passing `startFilter` (a predicate over `src`), and
    * at each step the walk at v moves to the neighbor whose rank (position
    * in v's distinct out-neighbors sorted by id) equals a pseudo-random-
    * but-reproducible draw `H(origin#walk#step#v) mod out_degree` — a
    * uniform choice that both engines replay bit-identically, standing in
    * for the reference protocol's RNG the way the LCG does in
    * [[negativeSamples]]. A walk reaching a sink vertex stops early.
    * Returns (origin, walk, step, v) with step 0 = the origin row itself.
    *
    * Scale shape: the ranked adjacency is one window over the distinct
    * edge set (re-used every step); each step is two equi-joins — frontier
    * x out-degree on the current vertex, then (vertex, draw) = (vertex,
    * rank) against the adjacency — so the working set is O(#live walks)
    * rows and `steps` bounds the job count. Hot vertices are naturally
    * load-balanced: the composite (vertex, rank) key spreads a hub's
    * incoming walks across its neighbor rows. Building the plan runs one
    * pin job: the ranked adjacency every step reads.
    */
  def randomWalks(edges: DataFrame, startFilter: Column, nWalks: Int,
                  steps: Int): DataFrame = {
    require(nWalks >= 1 && steps >= 1, "need nWalks >= 1, steps >= 1")
    import graft.ops.TextOps.portableHash64
    val e = edges.select(col("src"), col("dst")).distinct()
    // the ranked adjacency is joined twice per step; pinned once, each
    // step's two joins read the stored blocks instead of re-running the
    // scan + dedup + window per consumer
    val adj = graft.Pin.pin(e.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("dst")) - 1))._1
    // out-degree from the pinned adjacency (= distinct out-neighbor count)
    val outdeg = adj.groupBy("src").agg(count(lit(1)).as("d"))
    val starts = adj.where(startFilter).select(col("src").as("origin")).distinct()
    val w0 = starts
      .select(col("origin"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("walk"),
        lit(0).as("step"), col("origin").as("v"))
    var all = w0
    var frontier = w0
    for (h <- 1 to steps) {
      val draw = frontier.join(outdeg, frontier("v") === outdeg("src"))
        .withColumn("idx", pmod(
          portableHash64(concat_ws("#",
            col("origin"), col("walk"), lit(h), col("v"))), col("d")))
        .select(col("origin"), col("walk"), col("v"), col("idx"))
      val next = draw.join(adj,
        draw("v") === adj("src") && draw("idx") === adj("rank"))
        .select(col("origin"), col("walk"), lit(h).as("step"),
          col("dst").as("v"))
      all = all.unionByName(next)
      frontier = next
    }
    all
  }

  /** Deterministic second-order biased walks — the node2vec corpus
    * generator (Grover & Leskovec 2016). Like [[randomWalks]] the draw at
    * each step is `H(origin#walk#step#prev#v) mod totalWeight`, but the
    * neighbor choice is weighted by where the walk CAME from: a candidate
    * x from v with previous vertex t weighs `wReturn` if x == t (the 1/p
    * return bias), `wCommon` if the capped graph has the edge t -> x (the
    * distance-1 "BFS" bias), else `wOut` (the 1/q "DFS" bias). Integer
    * weights keep the cumulative-range arithmetic exact, so both engines
    * replay bit-identically; (wReturn, wCommon, wOut) = (1, 4, 2) is
    * node2vec's p = 4, q = 2 scaled to integers. Step 1 has no previous
    * vertex and is the uniform first-order draw. A walk at a sink stops
    * early. Returns (origin, walk, step, v) with step 0 = the origin row.
    *
    * `maxOutDegree > 0` truncates every adjacency list to its lowest-rank
    * (by dst id) neighbors — the GraphSAGE-style hub guard. Unlike the
    * first-order walker, exact second-order sampling must expand the
    * frontier by out-degree to score each candidate (the weight depends
    * on the (prev, x) pair, so no (vertex, rank) lookup can skip the
    * expansion); the cap bounds that working set at
    * O(live walks x maxOutDegree) rows per step. The expansion joins are
    * all equi-joins on vertex/pair keys, the scoring window partitions by
    * (origin, walk) — one live state each, so no skew — and `steps`
    * bounds the job count. Building the plan runs one pin job: the capped
    * adjacency every step reads.
    */
  def node2vecWalks(edges: DataFrame, startFilter: Column, nWalks: Int,
                    steps: Int, wReturn: Int, wCommon: Int, wOut: Int,
                    maxOutDegree: Int = 0): DataFrame = {
    require(nWalks >= 1 && steps >= 1, "need nWalks >= 1, steps >= 1")
    require(wReturn >= 1 && wCommon >= 1 && wOut >= 1, "weights must be >= 1")
    import graft.ops.TextOps.portableHash64
    val W = org.apache.spark.sql.expressions.Window
    val ranked = edges.select(col("src"), col("dst")).distinct()
      .withColumn("rank",
        row_number().over(W.partitionBy("src").orderBy("dst")) - 1)
    // pinned once: the capped adjacency is joined 3x per step (candidate
    // expansion, the t->x common-edge probe, plus the step-1 draw), and
    // the lazy form re-ran the scan + dedup + window per consumer
    val adj = graft.Pin.pin(
      (if (maxOutDegree > 0) ranked.where(col("rank") < maxOutDegree)
       else ranked).select(col("src"), col("dst"), col("rank")))._1
    val outdeg = adj.groupBy("src").agg(count(lit(1)).as("d"))
    val starts = adj.where(startFilter).select(col("src").as("origin")).distinct()
    val w0 = starts
      .select(col("origin"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("walk"),
        lit(0).as("step"), col("origin").as("v"))
    // step 1: uniform first-order draw (no previous vertex yet)
    val f1 = w0.join(outdeg, w0("v") === outdeg("src"))
      .withColumn("idx", pmod(
        portableHash64(concat_ws("#",
          col("origin"), col("walk"), lit(1), col("v"))), col("d")))
      .select(col("origin"), col("walk"), col("v"), col("idx")).as("f")
      .join(adj.as("a"),
        col("f.v") === col("a.src") && col("f.idx") === col("a.rank"))
      .select(col("f.origin").as("origin"), col("f.walk").as("walk"),
        col("f.v").as("prev"), col("a.dst").as("v"))
    var all = w0.unionByName(
      f1.select(col("origin"), col("walk"), lit(1).as("step"), col("v")))
    var frontier = f1
    for (h <- 2 to steps) {
      val cand = frontier.as("f")
        .join(adj.as("a"), col("f.v") === col("a.src"))
        .join(adj.select(col("src").as("ts"), col("dst").as("td")).as("t"),
          col("f.prev") === col("t.ts") && col("a.dst") === col("t.td"), "left")
        .select(col("f.origin").as("origin"), col("f.walk").as("walk"),
          col("f.prev").as("prev"), col("f.v").as("v"), col("a.dst").as("x"),
          when(col("a.dst") === col("f.prev"), lit(wReturn.toLong))
            .when(col("t.td").isNotNull, lit(wCommon.toLong))
            .otherwise(lit(wOut.toLong)).as("w"))
      val byWalk = W.partitionBy("origin", "walk")
      val next = cand
        .withColumn("cum", sum("w").over(byWalk.orderBy("x")
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("tot", sum("w").over(byWalk))
        .withColumn("draw", pmod(
          portableHash64(concat_ws("#",
            col("origin"), col("walk"), lit(h), col("prev"), col("v"))),
          col("tot")))
        .where(col("draw") >= col("cum") - col("w") && col("draw") < col("cum"))
        .select(col("origin"), col("walk"), col("v").as("prev"),
          col("x").as("v"))
      all = all.unionByName(
        next.select(col("origin"), col("walk"), lit(h).as("step"), col("v")))
      frontier = next
    }
    all
  }

  /** Deterministic negative sampling over an integer-encoded triple table —
    * the corrupted-triple generator of KG-embedding training (TransE-family
    * protocol): for every (src_id, label_id, dst_id), propose the tail
    * corruption (src_id, label_id, neg_dst_id) with neg_dst_id drawn
    * pseudo-randomly-but-reproducibly from the dense vertex id space
    * [0, nVertices) by a fixed LCG over the edge's own ids; a draw that
    * lands on the true tail is shifted by one (mod n) so a negative never
    * equals its positive, and candidates that collide with ANY real edge
    * are removed by a left-anti join — the standard "filtered" negatives.
    *
    * Everything is a map-side projection plus ONE anti-join keyed on the
    * full triple; the 1-row vertex count rides the plan as a broadcast
    * cross join. The LCG constants keep products within 63 bits for id
    * spaces up to 2^31; beyond that swap the mix for xxhash64 Spark-side
    * (same plan, different map expression).
    */
  def negativeSamples(intTriples: DataFrame, nVertices: DataFrame): DataFrame = {
    val cand = intTriples
      .select(col("src_id"), col("label_id"), col("dst_id"))
      .crossJoin(broadcast(nVertices.select(col("n_vertices"))))
      .withColumn("__draw", pmod(
        col("src_id") * lit(1103515245L) + col("dst_id") * lit(2654435769L) +
          col("label_id") * lit(97L) + lit(12345L),
        col("n_vertices")))
      .withColumn("neg_dst_id",
        when(col("__draw") === col("dst_id"),
          pmod(col("__draw") + 1, col("n_vertices")))
          .otherwise(col("__draw")))
      .select("src_id", "label_id", "dst_id", "neg_dst_id")
    cand.join(
      intTriples.select(col("src_id"), col("label_id"),
        col("dst_id").as("neg_dst_id")).distinct(),
      Seq("src_id", "label_id", "neg_dst_id"), "left_anti")
      .select("src_id", "label_id", "dst_id", "neg_dst_id")
  }
}
