package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The power iteration behind [[PageRank]], [[Eigenvector]] and [[Hits]]:
  * each round propagates a per-vertex value `x` along the links,
  * s(v) = Σ_{(u,v)} contrib(x(u), link), and maps s to the next x (an affine
  * PageRank update, or an L2 normalisation).
  *
  * Loop state is lazily checkpointed every round: the round's plan is
  * truncated to a LogicalRDD at once, and the loop itself takes no driver
  * action per round. A fixed number of rounds ends in ONE count; the
  * convergent loop runs one L1-delta aggregate per round, which also
  * materializes that round's checkpoint. Where one action is one job (no
  * AQE, no broadcast joins) those are the only loop jobs; with AQE, planning
  * a round's checkpoint also runs its shuffle stages as jobs of their own.
  */
private[algo] object PowerIteration {

  /** Link table (src, dst, w[, wsum]) and vertex set of one run, with |V|. */
  final case class Graph(links: DataFrame, vertices: DataFrame, n: Long)

  /** Links with weight `w` > 0 and their vertex set, both derived from ONE
    * checkpoint of the caller's edge plan (deriving each from the plan
    * would read it up to four times). `wsum` adds each source's total
    * out-weight to its links; without it the pinned checkpoint is the link
    * table.
    */
  def setup(edges: DataFrame, w: Column, wsum: Boolean): Graph = {
    val sel = edges.select(col("src"), col("dst"), w.cast("double").as("w")).where(col("w") > 0)
    val ck = if (wsum) sel.localCheckpoint(true) else IterUtil.pin(sel)
    val links =
      if (wsum) IterUtil.pin(ck.join(ck.groupBy("src").agg(sum("w").as("wsum")), "src")) else ck
    val (vertices, n) = IterUtil.pinCounted(ck
      .select(explode_outer(array(col("src"), col("dst"))).as("vertex"))
      .distinct())
    Graph(links, vertices, n)
  }

  /** One propagation step: `base` plus s = Σ `contrib` over the links into
    * each vertex from the vertices of `x` (vertex, x), 0 where none arrives.
    * `reverse` follows the links from dst to src.
    */
  def step(links: DataFrame, base: DataFrame, x: DataFrame, contrib: Column,
           reverse: Boolean = false): DataFrame = {
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    val s = links.join(x, links(from) === x("vertex"))
      .groupBy(col(to).as("vertex"))
      .agg(sum(contrib).as("s"))
    base.join(s, Seq("vertex"), "left_outer").withColumn("s", coalesce(col("s"), lit(0.0)))
  }

  /** x = s / ||s||_2, the norm folded into the plan as a cross join with a
    * one-row aggregate (never a driver action). A zero norm means nothing
    * feeds the iteration: x keeps the raw zeros.
    */
  def normalize(df: DataFrame): DataFrame = {
    val nrm = df.agg(sqrt(coalesce(sum(col("s") * col("s")), lit(0.0))).as("nrm"))
    df.crossJoin(nrm)
      .withColumn("x", when(col("nrm") === 0.0, col("s")).otherwise(col("s") / col("nrm")))
      .drop("s", "nrm")
  }

  /** Runs `round(base, x)` from `init` and returns the last x.
    *
    * `eps = None`: exactly `maxIter` rounds with `base` = the vertex set,
    * materialized by one count after the loop, while the pinned inputs live.
    *
    * `eps = Some(e)`: rounds until the L1 delta is at most e, or x is all
    * zeros (a fixed point of every propagation), or `maxIter` rounds ran.
    * `base` is x renamed to `prev`, so each round's frame carries prev and
    * the delta is read in the same job that computes the round.
    */
  def iterate(g: Graph, init: DataFrame, maxIter: Int, eps: Option[Double])(
      round: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var x = init.localCheckpoint(false)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && eps.forall(delta > _)) {
      x = eps match {
        case None => round(g.vertices, x).localCheckpoint(false)
        case Some(_) =>
          val next = round(x.withColumnRenamed("x", "prev"), x).localCheckpoint(false)
          val r = next.agg(
            coalesce(sum(abs(col("x") - col("prev"))), lit(0.0)),
            coalesce(max(abs(col("x"))), lit(0.0))).head()
          delta = if (r.getDouble(1) == 0.0) 0.0 else r.getDouble(0)
          next.select("vertex", "x")
      }
      iter += 1
    }
    if (eps.isEmpty) x.count()
    x
  }
}
