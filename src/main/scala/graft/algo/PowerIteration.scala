package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Pin

/** The power iteration behind [[PageRank]], [[Eigenvector]] and [[Hits]]:
  * each round propagates a per-vertex value `x` along the links,
  * s(v) = Σ_{(u,v)} contrib(x(u), link), and maps s to the next x (an affine
  * PageRank update, or an L2 normalisation). A fixed round count is a
  * [[Fixpoint.fixed]] loop, an eps stop a [[Fixpoint.converge]] loop.
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
    val ck = Pin.pin(sel)._1
    val links =
      if (wsum) Pin.pin(ck.join(ck.groupBy("src").agg(sum("w").as("wsum")), "src"))._1 else ck
    val (vertices, m) = Pin.pin(ck
      .select(explode_outer(array(col("src"), col("dst"))).as("vertex"))
      .distinct())
    Graph(links, vertices, m.getLong(0))
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

  /** Runs `kernel`'s `round(base, x)` from `init` and returns the last x.
    *
    * `eps = None`: exactly `maxIter` rounds with `base` = the vertex set.
    *
    * `eps = Some(e)`: rounds until the L1 delta is at most e, or x is all
    * zeros (a fixed point of every propagation), or `maxIter` rounds ran.
    * `base` is x renamed to `prev`, so each round's frame carries prev and
    * the delta is observed in the job that computes the round. A result at
    * `maxIter` is returned as it stands: it is the defined approximation
    * (graph-tool's `max_iter`), not a failure.
    */
  def iterate(kernel: String, g: Graph, init: DataFrame, maxIter: Int, eps: Option[Double])(
      round: (DataFrame, DataFrame) => DataFrame): DataFrame = eps match {
    case None => Fixpoint.fixed(kernel, init, maxIter)((x, _) => round(g.vertices, x))
    case Some(e) =>
      val delta = Seq(coalesce(sum(abs(col("x") - col("prev"))), lit(0.0)).as("delta"),
        coalesce(max(abs(col("x"))), lit(0.0)).as("xmax"))
      Fixpoint.converge(kernel, init.withColumn("prev", col("x")), maxIter, delta,
          stop = (_, m) => m.getDouble(2) == 0.0 || m.getDouble(1) <= e) { (cur, _) =>
        val x = cur.select("vertex", "x")
        round(x.withColumnRenamed("x", "prev"), x)
      }.state.select("vertex", "x")
  }
}
