package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Synchronous label propagation (Raghavan et al. 2007) made fully
  * deterministic — an engine addition beyond lodcc's measure set (its
  * natural companion: lodcc profiles per-dataset structure; LPA gives the
  * mesoscale communities those profiles talk about).
  *
  * Determinism pins (both engines replay the identical recurrence):
  *   - neighbor multiset = both directions of the raw edge list, parallel
  *     edges counted with multiplicity, self loops dropped;
  *   - label(v, 0) = v;
  *   - label(v, t+1) = the neighbor label with the highest count at t,
  *     ties broken by SMALLEST label (lexicographic);
  *   - fixed iteration count (synchronous rounds), no early exit — the
  *     oracle unrolls the same number of rounds.
  *
  * Plan shape per round: one equi-join of the cached neighbor table
  * against the current labels (shuffle on vertex id), then a two-level
  * aggregation — count per (v, label), argmax per v via min(struct(-cnt,
  * label)) so the tie-break rides the same shuffle. Map-side partial
  * aggregation keeps the (v, label) key space bounded by the edge count;
  * both variants are [[Fixpoint.fixed]] loops. At 100 TB this is the standard
  * semi-synchronous LPA shape: nothing wider than the edge list ever
  * shuffles, and hub vertices cost one combiner entry per distinct
  * neighbor label, not one row per neighbor.
  */
object LabelPropagation {

  /** (v, u) for each neighbor u of v in the raw edge list, both
    * directions, self loops dropped: ONE generator pass over the caller's
    * edge plan (a two-branch union evaluated the upstream subtree twice),
    * `explode_outer` for the same InferFiltersFromGenerate reason as
    * [[ConnectedComponents]]. Pinned: every round re-reads it.
    */
  private def neighbors(edges: DataFrame): DataFrame =
    Pin.pin(edges.where(col("src") =!= col("dst"))
      .select(explode_outer(array(
          struct(col("src").as("v"), col("dst").as("u")),
          struct(col("dst").as("v"), col("src").as("u")))).as("e"))
      .select(col("e.v").as("v"), col("e.u").as("u")))._1

  /** (vertex, community) after `iters` synchronous rounds. */
  def runFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val nbrs = neighbors(edges)
    val vertices = nbrs.select(col("v").as("vertex")).distinct()
    Fixpoint.fixed("LPA", vertices.withColumn("community", col("vertex")), iters) {
      (labels, _) =>
        nbrs
          .join(labels.withColumnRenamed("vertex", "u"), "u")
          .groupBy(col("v"), col("community"))
          .agg(count(lit(1)).as("cnt"))
          // argmax(count) with min-label tie-break in ONE agg: the struct
          // orders by (-cnt, label), so min picks highest count, then
          // smallest label
          .groupBy(col("v").as("vertex"))
          .agg(min(struct((-col("cnt")).as("nc"), col("community").as("l")))
            .as("top"))
          .select(col("vertex"), col("top.l").as("community"))
    }
  }

  /** Per-community sizes of [[runFixed]] — (community, size), the
    * driver-checked distribution shape.
    */
  def communitySizes(labels: DataFrame): DataFrame =
    labels.groupBy("community").agg(count(lit(1)).cast("bigint").as("size"))

  /** SEEDED (semi-supervised) label propagation: `seeds` (vertex, label)
    * are CLAMPED — never re-decided — and every other vertex takes the
    * argmax label among its LABELED neighbors each round (count desc,
    * smallest label on ties), staying null until a labeled neighbor
    * appears. The weak-supervision kernel for corpus curation: propagate
    * a few trusted document labels (human-reviewed language/quality/
    * domain tags) through a similarity graph. Labels never vanish once
    * assigned (a labeled vertex always retains >= 1 labeled neighbor), so
    * the argmax-only recurrence is self-consistent with no keep-last
    * special case — which also keeps the SQL twin a plain unroll.
    * Same per-round plan shape as [[runFixed]].
    */
  def runSeededFixed(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val nbrs = neighbors(edges)
    // vertices and the clamped seed table are re-read every round
    val vertices = Pin.pin(nbrs.select(col("v").as("vertex")).distinct())._1
    val sd = Pin.pin(seeds.select(col("vertex"), col("label")))._1
    Fixpoint.fixed("Seeded LPA", vertices.join(sd, Seq("vertex"), "left_outer"), iters) {
      (labels, _) =>
        val prop = nbrs
          .join(labels.select(col("vertex").as("u"), col("label").as("ul")), "u")
          .where(col("ul").isNotNull)
          .groupBy(col("v"), col("ul"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v").as("vertex"))
          .agg(min(struct((-col("cnt")).as("nc"), col("ul").as("l"))).as("top"))
          .select(col("vertex"), col("top.l").as("prop_label"))
        vertices
          .join(sd, Seq("vertex"), "left_outer")
          .join(prop, Seq("vertex"), "left_outer")
          .select(col("vertex"),
            coalesce(col("label"), col("prop_label")).as("label"))
    }
  }
}
