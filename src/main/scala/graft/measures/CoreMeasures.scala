package graft.measures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A row of named scalar measures: each field name is a measure name. */
trait MeasureRow extends Product {
  /** Long-format (measure, value) pairs in field order; None is SQL NULL. */
  def longRows: Seq[(String, Option[Double])] =
    productElementNames.zip(productIterator).map {
      case (k, v: Long)         => k -> Some(v.toDouble)
      case (k, v: Double)       => k -> Some(v)
      case (k, Some(v: Long))   => k -> Some(v.toDouble)
      case (k, Some(v: Double)) => k -> Some(v)
      case (k, None)            => k -> None
    }.toSeq
}

/** A1-A5 (`core/basic_measures.py:8-51`). */
case class Basic(n: Long, m: Long, mean_degree: Option[Double], fill_overall: Option[Double],
                 parallel_edges: Long, m_unique: Long, fill: Option[Double]) extends MeasureRow

/** A6-A8 (`degree_based.py:30-88`). */
case class DegreeStats(
    max_degree: Option[Long], max_in_degree: Option[Long], max_out_degree: Option[Long],
    mean_degree_centrality: Option[Double], mean_in_degree_centrality: Option[Double],
    mean_out_degree_centrality: Option[Double], max_degree_centrality: Option[Double],
    max_in_degree_centrality: Option[Double], max_out_degree_centrality: Option[Double],
    stddev_in_degree: Option[Double], coefficient_variation_in_degree: Option[Double],
    stddev_out_degree: Option[Double], coefficient_variation_out_degree: Option[Double],
    var_in_degree: Option[Double], var_out_degree: Option[Double]) extends MeasureRow

/** Edge-pair counts: edges `m`, distinct directed pairs `mUnique`, and
  * `reciprocal` edges (s,t) for which some edge (t,s) exists — self-loops
  * included, parallel edges each counted. */
case class PairCounts(m: Long, mUnique: Long, reciprocal: Long)

/** lodcc core topology measures (SURVEY.md §2.4 A1-A14) over the hashed
  * edge table (src, dst, label), whose endpoints are non-null. The
  * degree-based ones are computed on the driver from the degree histograms
  * ([[Degrees.histograms]]) and [[pairCounts]], mirroring lodcc's "compute
  * once" degree vector (`degree_based.py:26`); their DataFrame overloads are
  * the query entry points and return one row.
  */
object CoreMeasures {

  /** Spark's try_divide: None on a zero divisor. */
  private def div(a: Double, b: Double): Option[Double] = if (b == 0) None else Some(a / b)

  /** m, m_unique and the reciprocal-edge count from one aggregate: group by
    * the directed pair, then by the unordered pair. An unordered pair's
    * edges are all reciprocal when both directions occur, or when it is a
    * self-loop. */
  def pairCounts(edges: DataFrame): PairCounts = {
    val r = edges.groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .groupBy(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .agg(count(lit(1)).as("dirs"), sum("c").as("c"))
      .agg(
        coalesce(sum("c"), lit(0L)),
        coalesce(sum("dirs"), lit(0L)),
        coalesce(sum(when(col("dirs") === 2 || col("a") === col("b"), col("c"))), lit(0L)))
      .head()
    PairCounts(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A1-A5: n, m, mean_degree, fill_overall, parallel_edges, m_unique, fill
    * (`core/basic_measures.py:8-51`) from the vertex count `n`. */
  def basic(n: Long, p: PairCounts): Basic =
    Basic(n, p.m, div(2.0 * p.m, n.toDouble), div(p.m.toDouble, (n * n).toDouble),
      p.m - p.mUnique, p.mUnique, div(p.mUnique.toDouble, (n * n).toDouble))

  /** [[basic]] of an edge table as one row. */
  def basic(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    Seq(basic(Degrees.degrees(edges).count(), pairCounts(edges))).toDF()
  }

  /** A6-A8: max degrees + degree centralities + stddev/var/CV
    * (`degree_based.py:30-88`) from [[Degrees.histograms]]. NumPy
    * `.std()`/`.var()` are population variants. Centrality scale
    * s = 1/(n-1).
    */
  def degreeStats(hists: Map[String, Seq[(Double, Long)]]): DegreeStats = {
    val n = hists("deg").map(_._2).sum.toDouble
    def top(k: String) = hists(k).lastOption.map(_._1.toLong)
    def total(k: String) = hists(k).map { case (x, c) => x.toLong * c }.sum.toDouble
    def meanCentrality(k: String) = div(total(k), n - 1).flatMap(div(_, n))
    def maxCentrality(k: String) = top(k).flatMap(mx => div(mx.toDouble, n - 1.0))
    def varPop(k: String) = div(total(k), n).map { mean =>
      hists(k).map { case (x, c) => c.toDouble * (x - mean) * (x - mean) }.sum / n
    }
    def cv(k: String) =
      for (v <- varPop(k); mean <- div(total(k), n); r <- div(math.sqrt(v), mean))
        yield r * 100
    DegreeStats(top("deg"), top("in_deg"), top("out_deg"),
      meanCentrality("deg"), meanCentrality("in_deg"), meanCentrality("out_deg"),
      maxCentrality("deg"), maxCentrality("in_deg"), maxCentrality("out_deg"),
      varPop("in_deg").map(math.sqrt), cv("in_deg"),
      varPop("out_deg").map(math.sqrt), cv("out_deg"),
      varPop("in_deg"), varPop("out_deg"))
  }

  /** [[degreeStats]] of a degrees table ([[Degrees.degrees]]) as one row. */
  def degreeStats(degrees: DataFrame): DataFrame = {
    import degrees.sparkSession.implicits._
    Seq(degreeStats(Degrees.histograms(degrees))).toDF()
  }

  /** A6 argmax vertices. lodcc's tie-break is ">= in vertex-index order ->
    * last inserted vertex wins" (`degree_based.py:41-59`); vertex index order
    * is a property of graph-tool's load order, so we pin a deterministic
    * equivalent: among tied degrees the lexicographically greatest vertex
    * wins when `orderCol` is None, else the greatest `orderCol` value wins.
    */
  def maxDegreeVertices(degrees: DataFrame, orderCol: Option[String] = None): DataFrame = {
    val ord = orderCol.map(col).getOrElse(col("vertex"))
    degrees.agg(
      max_by(col("vertex"), struct(col("deg"), ord)).as("max_degree_vertex"),
      max_by(col("vertex"), struct(col("in_deg"), ord)).as("max_in_degree_vertex"),
      max_by(col("vertex"), struct(col("out_deg"), ord)).as("max_out_degree_vertex"))
  }

  /** Degree assortativity: Pearson correlation between the TOTAL degrees
    * of edge endpoints, every directed edge one sample (parallel edges
    * each count) — the graph-tool `scalar_assortativity` analog for the
    * degree vector; r > 0 means hubs link to hubs. Two broadcast-friendly
    * joins of the degree vector onto the edge list plus one corr()
    * aggregation — no shuffle wider than the edge list. NaN (degenerate
    * variance: all endpoint degrees equal) is surfaced as null.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val deg = Degrees.degrees(edges).select(col("vertex"), col("deg"))
    val samples = edges.select("src", "dst")
      .join(deg.select(col("vertex").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("vertex").as("dst"), col("deg").as("dy")), "dst")
      .select(col("dx").cast("double").as("x"), col("dy").cast("double").as("y"))
    // centered two-pass Pearson: the naive n*Σxy − ΣxΣy sums blow past
    // 2^53 on web-scale edge counts; centered products stay ~n·var. ANSI
    // mode: try_divide, not corr() — corr THROWS on zero variance, this
    // returns the null the caller expects for a degree-regular graph
    val m = samples.agg(avg("x").as("mx"), avg("y").as("my"))
    samples.crossJoin(broadcast(m))
      .agg(
        sum((col("x") - col("mx")) * (col("y") - col("my"))).as("sxy"),
        sum((col("x") - col("mx")) * (col("x") - col("mx"))).as("sxx"),
        sum((col("y") - col("my")) * (col("y") - col("my"))).as("syy"))
      .select(try_divide(col("sxy"), sqrt(col("sxx") * col("syy")))
        .as("assortativity"))
  }

  /** A14 reciprocity (`edge_based.py:8-13`): fraction of edges (s,t) such
    * that at least one edge (t,s) exists; parallel edges each count. */
  def reciprocity(p: PairCounts): Option[Double] = div(p.reciprocal.toDouble, p.m.toDouble)

  /** [[reciprocity]] of an edge table as one row. */
  def reciprocity(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    Seq(Tuple1(reciprocity(pairCounts(edges)))).toDF("reciprocity")
  }

  /** A15 pseudo_diameter (`edge_based.py:15-32`): BFS double sweep on the
    * largest component, falling back to the whole graph when the LC has
    * <= 1 vertex. Deviation (documented): lodcc/graph-tool's
    * label_largest_component uses STRONG components on directed graphs; we
    * use weak components — sparse KG strong components are near-singletons,
    * which would always trigger the whole-graph fallback. Source vertex =
    * the max-out-degree vertex of the component (deterministic and never a
    * sink, unlike graph-tool's vertex 0); ties on farthest vertex break to
    * the greatest vertex (lodcc's later-wins analog).
    *
    * `precomputedCC` (VERDICT r3 next #3): a (vertex, component) table from
    * a prior [[graft.algo.ConnectedComponents.run]] — e.g. the measure
    * suite's shared CC snapshot — skips the iterative CC job entirely; when
    * absent, CC is computed and pinned for this call.
    */
  def pseudoDiameter(edges: DataFrame,
                     precomputedCC: Option[DataFrame] = None): DataFrame = {
    import graft.algo.{Bfs, ConnectedComponents}
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    val cc = precomputedCC.getOrElse(graft.Pin.pin(ConnectedComponents.run(edges))._1)
    val top = ConnectedComponents.componentSizes(cc)
      .orderBy(col("size").desc, col("component").asc).limit(1).collect()
    // the selected edge set as ONE pinned (src, dst, n) multiplicity
    // table, which every BFS sweep reads as its distinct adjacency. The
    // source comes from the pin's own job: each row carries its source's
    // multigraph out-degree Σn, and the observed max_by keeps the tie rule
    val sel = edges.select("src", "dst")
    val (adj, m) = graft.Pin.pin(
      (if (top.isEmpty || top.head.getLong(1) <= 1) sel
      else {
        val comp = top.head.getString(0)
        val members = cc.where(col("component") === comp).select(col("vertex"))
        sel.join(members.withColumnRenamed("vertex", "src"), Seq("src"), "left_semi")
          .join(members.withColumnRenamed("vertex", "dst"), Seq("dst"), "left_semi")
      }).groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .withColumn("od", sum(col("n")).over(Window.partitionBy("src"))),
      Seq(max_by(col("src"), struct(col("od"), col("src")))))
    val (d, s, t) = Bfs.pseudoDiameter(adj, m.getString(1), assumeDistinct = true)
    import spark.implicits._
    Seq((d, s, t)).toDF("pseudo_diameter", "pseudo_diameter_src_vertex", "pseudo_diameter_trg_vertex")
  }

  /** A13 centralization_degree (`centrality.py:21-40`): on the
    * parallel-edge-free copy, sum(max_deg - deg) / ((N-1)(N-2))
    * = (N*max - sum) / ((N-1)(N-2)).
    */
  def centralizationDegree(edges: DataFrame): DataFrame = {
    val simple = edges.select("src", "dst").distinct()
    Degrees.degrees(simple).agg(
      count(lit(1)).as("nv"), max("deg").as("mx"), sum("deg").as("sm"))
      .select(try_divide((col("nv") * col("mx") - col("sm")).cast("double"),
        (col("nv") - 1) * (col("nv") - 2)).as("centralization_degree"))
  }
}
