package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.Pin

/** Weakly-connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  * — O(log n) rounds, no giant-frontier propagation, robust to skewed
  * components (a star with a hot hub shrinks in one round instead of
  * funneling through one reducer for `diameter` rounds).
  *
  * lodcc analog: `label_largest_component` (`edge_based.py:18`); the same
  * kernel canonicalizes entities after MinHash-LSH blocking (north rule).
  *
  * Input: edge DataFrame with columns (src, dst) — direction ignored.
  * Output: (vertex, component) where component = min vertex id reachable.
  */
object ConnectedComponents {

  /** The undirected edge set in CANONICAL form — one row (a, b) with
    * a >= b per unordered pair, deduplicated on the pair key. Self-loops
    * stay (a = b), and an edge with a null endpoint keeps both endpoints,
    * so that every input vertex reaches the vertex universe; the star
    * rounds start from the a > b rows. Canonical-before-explode,
    * deliberately:
    *
    *  - **Half the shuffle.** Deduplicating the canonical pair moves HALF
    *    the rows of deduplicating the symmetrized (u, v) set (the r4–r9
    *    shapes), and both directions of an edge collapse into ONE dedup
    *    key, so the partial aggregate folds up to 2x more duplicates
    *    before the wire (the bench graph repeats each entity pair 9.2x
    *    across turns). The symmetrized view is re-derived per consumer by
    *    [[expand]] — a generator over the checkpointed canonical blocks,
    *    costing zero exchanges.
    *  - **Skew-free key.** Dedup keyed on the PAIR spreads a hot vertex
    *    (hot conversations / ubiquitous entities: the bench graph's
    *    hottest vertex touches 3.16M of 61.7M pairs, p50 degree 8) across
    *    the cluster by its neighbors; a `repartition(u)` dedup (proto 9)
    *    funneled every copy of the hot key — ~28M pre-dedup rows — into
    *    one straggler partition that capped exactly the high-core legs.
    *  - **Map-side combine.** `dropDuplicates` plans a partial
    *    HashAggregate BEFORE its exchange; repeated mentions of the same
    *    entity pair inside one conversation collapse in the scan
    *    partition, where a `repartition` ships every copy.
    */
  private def canonPairs(edges: DataFrame): DataFrame = {
    // not greatest/least, which skip a null and would drop it from the
    // universe: a null comparison keeps the row as (dst, src)
    val fwd = col("src") >= col("dst")
    edges.select(when(fwd, col("src")).otherwise(col("dst")).as("a"),
        when(fwd, col("dst")).otherwise(col("src")).as("b"))
      .dropDuplicates("a", "b")
  }

  /** Symmetrized (u, v) view of a canonical (a, b) a>b pair set: each row
    * explodes to both directions. Distinct by construction (the canonical
    * set is distinct and a != b). `explode_outer`, not `explode`:
    * Catalyst's InferFiltersFromGenerate re-inlines the caller's upstream
    * expression tree below the next exchange for a plain `explode` (the r4
    * doc_minhash_lsh pathology, measured +23 s on kg_canon_incremental).
    */
  private def expand(canon: DataFrame): DataFrame =
    canon.select(explode_outer(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** Broadcast the per-round mins table (one row per live vertex) when the
    * vertex universe is known to be small enough: the two pair-set joins
    * per star round then run as exchange-free broadcast-hash joins — no
    * sort, no reshuffle of the pair set, and hot-hub join skew cannot
    * exist. Above the threshold the joins fall back to shuffle joins with
    * AQE skew-split (Sessions.bench): on a 10^12-turn
    * graph whose entity universe outgrows executor memory the plan
    * degrades gracefully instead of OOMing.
    */
  private val BroadcastMaxVertices = 8000000L

  /** Vertex ids that iterate cheaply as-is — anything else goes through the
    * order-free hash encode in [[run]] (8-byte longs shuffle 2-4x fewer
    * bytes per round than UTF8 strings; measured 43 -> 22 s at 8 cores on
    * the 71M-edge bench leg, and the savings compound at every round of
    * every rerun).
    */
  private def numericVertices(edges: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    Seq(edges.schema("src").dataType, edges.schema("dst").dataType).forall {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** Component assignment over arbitrary vertex ids. Non-numeric ids on
    * LARGE graphs (|V| >= `encodeMinVertices`) are hash-encoded to longs
    * for the fixpoint (the iterated shuffles carry 8-byte keys instead of
    * strings — the same move as lodcc's hashed int edgelist, SURVEY §2.1
    * S11) and decoded after: the hash only has to be INJECTIVE on this
    * graph's vertex set, which is verified against the vertex universe
    * (one count_distinct over |V|); on the astronomically rare collision
    * the kernel falls back to iterating the original ids. Component NAMING
    * is restored exactly — component = min ORIGINAL vertex id over the
    * members — by a |V|-sized regroup, so callers (canonicalization's
    * "min surface" contract, the DuckDB oracles) see byte-identical output
    * either way.
    *
    * The |V| threshold exists because the decode costs three small
    * shuffles (vh join, naming regroup, naming join): on a 71M-edge /
    * 1M-vertex graph the encode wins 43 -> 22 s at 8 cores, but on the
    * latency-bound small graphs the suite's canonicalization chains feed
    * (|V| ~ 10^4) those three extra jobs ADDED ~2-3.5 s per query
    * (measured, protocol runs 16 vs 17) while saving nothing — byte
    * savings only pay when the per-round shuffle volume dominates the
    * per-round job latency.
    *
    * `edges` is read by exactly one job: the eager [[Pin.pin]] of its
    * canonical pair set ([[canonPairs]]). The vertex universe and the
    * first star round are both derived from that pin, and it is released
    * once both are pinned. A caller therefore needs no pin of its own to
    * keep an expensive edge chain (a similarity join) from running twice.
    *
    * Star rounds that have not converged after `maxIter` rounds throw.
    */
  def run(edges: DataFrame, maxIter: Int = 50,
          encodeMinVertices: Long = 500000L): DataFrame = {
    // the vertex universe is pinned on its own: the final fill reads it,
    // and |V| sizes the per-round broadcast decision (BroadcastMaxVertices)
    val pairs = Pin.pin(canonPairs(edges), budget = Some(RowsPerPartition))._1
    val (allVs, m) = Pin.pin(pairs
      .select(explode_outer(array(col("a"), col("b"))).as("vertex"))
      .distinct(), budget = Some(RowsPerPartition)) // one scan, not union-of-two-selects
    val nV = m.getLong(0)
    val round0 = pairs.where(col("a") =!= col("b")) // no self-loops, no null endpoint
    if (numericVertices(edges)) return fill(allVs, fixpoint(round0, maxIter, nV))
    if (nV < encodeMinVertices) return fill(allVs, fixpoint(round0, maxIter, nV))

    val vmap = allVs.select(col("vertex"), xxhash64(col("vertex")).as("vh"))
    val nh = vmap.agg(count_distinct(col("vh")).as("nh")).head().getLong(0)
    if (nh != nV)
      return fill(allVs, fixpoint(round0, maxIter, nV)) // hash collision: iterate originals

    // the hash is injective on the universe, so the encoded pairs are
    // distinct and loop-free; only their (a > b) orientation changes
    val ha = xxhash64(col("a"))
    val hb = xxhash64(col("b"))
    val enc = round0.select(greatest(ha, hb).as("a"), least(ha, hb).as("b"))
    val ccL = fixpoint(enc, maxIter, nV) // (vertex: long, component: long)
    // decode (|V|-sized): original vertex -> long component group, then
    // restore canonical naming as the min original member id
    val withComp = vmap
      .join(ccL.withColumnRenamed("vertex", "vh"), Seq("vh"), "left_outer")
      .select(col("vertex"), col("component"))
    val naming = withComp.where(col("component").isNotNull)
      .groupBy("component").agg(min("vertex").as("cname"))
    withComp.join(naming, Seq("component"), "left_outer")
      .select(col("vertex"),
        coalesce(col("cname"), col("vertex")).as("component"))
  }

  /** Every universe vertex gets its assignment; edge-free ones are their
    * own component.
    */
  private def fill(allVs: DataFrame, asSelf: DataFrame): DataFrame =
    allVs.join(asSelf, Seq("vertex"), "left_outer")
      .select(col("vertex"), coalesce(col("component"), col("vertex")).as("component"))

  /** Partition budget of the star rounds' state, in rows, finer than
    * [[Pin]]'s 4M-row default: a star round does real per-row
    * join/aggregate compute (~µs/row), so a 64k-row partition carries
    * ~50-100 ms of work — well above task-scheduling overhead but small
    * enough that a mid-sized graph (10^5-10^6 pairs) still spreads across
    * cores, where a single 4M-row budget serialized its rounds onto one
    * task. Large graphs are untouched (the cap at the current count binds
    * first).
    */
  private val RowsPerPartition = 65536L

  /** Large-star/small-star fixpoint from `canon`, a distinct a > b pair
    * set over the pinned [[canonPairs]] of [[run]]; returns (vertex,
    * component = min reachable id under the INPUT type's ordering).
    */
  private def fixpoint(canon: DataFrame, maxIter: Int, nVertices: Long): DataFrame = {
    // Broadcast the mins table only when the pair set DWARFS the vertex
    // universe: building + shipping a |V|-row hash relation is serial-ish
    // work at every parallelism (measured: it inflated the post-round-0
    // star rounds, whose pair set has collapsed to ~|V|, by 2x at 2
    // cores), so it pays only while it spares reshuffling a much larger
    // pair set (round 0 on a duplicate-heavy graph).
    def maybeBc(mins: DataFrame, pairCount: Long): DataFrame =
      if (nVertices <= BroadcastMaxVertices && pairCount >= 3 * nVertices)
        broadcast(mins)
      else mins

    // The state between rounds is the CANONICAL pair set (a > b), at half
    // the rows of the symmetrized view. The stop signature is its count
    // plus the bitwise XOR of row hashes: the rows are distinct, so the
    // XOR is a faithful set signature, and the canonical set determines
    // the symmetrized one.
    val sig = Seq(coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h"))
    val star = Fixpoint.converge("CC", canon, maxIter, sig,
        Some(RowsPerPartition)) { (state, m) =>
      // round 0 is pinned, so nothing reads run's pair-set pin any more
      // (a repeated release is harmless)
      Bridge.releaseCheckpoints(canon)
      val pairs = expand(state)
      // large-star: connect every neighbor v > u to m = min(N(u) u {u}).
      // Output invariant: a = v > u >= mn = b, so ls is canonical (a > b).
      val ls = {
        val mins = pairs.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("mn"))
        pairs.join(maybeBc(mins, m.getLong(0)), "u")
          .where(col("v") > col("u"))
          .select(col("v").as("a"), col("mn").as("b"))
          .where(col("a") =!= col("b"))
      }
      // small-star on the canonical ls (each row already (bigger, smaller)):
      // for each a, connect its smaller neighbors (and a itself) to the min.
      // Both branches keep the a > b invariant (b >= mn and a > b >= mn).
      val ss = {
        val mins = ls.groupBy("a").agg(min(col("b")).as("mn"))
        ls.join(maybeBc(mins, m.getLong(0)), "a")
          .select(col("b").as("a"), col("mn").as("b"))
          .union(mins.select(col("a"), col("mn").as("b")))
          .where(col("a") =!= col("b"))
      }
      // the round's ONE pair-set exchange is this dedup, on the skew-free
      // canonical key with map-side partial aggregation (see canonPairs)
      ss.dropDuplicates("a", "b")
    }.orFail
    // the (member > root) star: component = min neighbor for members, self
    // for roots — expand and take min over both directions
    val comp = expand(star)
      .groupBy(col("u").as("vertex")).agg(min(col("v")).as("component"))
    comp.select(
      col("vertex"),
      least(col("vertex"), col("component")).as("component"))
  }

  /** (component, size) ordered by size desc. */
  def componentSizes(cc: DataFrame): DataFrame =
    cc.groupBy("component").agg(count(lit(1)).as("size"))

  /** Vertices of the largest component (ties: smallest component id wins). */
  def largestComponent(cc: DataFrame): DataFrame = {
    val top = componentSizes(cc)
      .orderBy(col("size").desc, col("component").asc).limit(1)
    cc.join(broadcast(top), "component").select("vertex")
  }
}
