package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.measures` against a brute-force reference computed here from
  * the raw edge list: per-vertex degree vectors, lodcc's sorted-vector gini
  * and h-index, and [[MatcherSpec.refFit]] for the power law.
  */
class MeasuresSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** The default features plus gini, without the iterative kernels. */
  val relational: Set[String] = Pipeline.DefaultFeatures + "gini" -- Set("pagerank", "diameter")

  /** Skewed random multigraph plus planted self-loops, parallel edges, a
    * reciprocal pair and source-only / sink-only vertices. */
  def randomGraph(seed: Long): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    val nv = 20 + r.nextInt(40)
    def v() = s"v${(nv * math.pow(r.nextDouble(), 2.5)).toInt}"
    Seq.fill(80 + r.nextInt(120))((v(), v())) ++ Seq(
      ("loop", "loop"), ("loop", "loop"), ("p", "q"), ("p", "q"), ("q", "p"),
      ("source_only", "v0"), ("v1", "sink_only"))
  }

  def edgesOf(es: Seq[(String, String)]): DataFrame =
    es.map { case (s, d) => (s, d, "x") }.toDF("src", "dst", "label")

  def measured(es: Seq[(String, String)], features: Set[String]): Map[String, Option[Double]] =
    Pipeline.measures(edgesOf(es), features).collect()
      .map(r => r.getString(0) -> Option.unless(r.isNullAt(1))(r.getDouble(1))).toMap

  def reference(es: Seq[(String, String)]): Map[String, Option[Double]] = {
    def div(a: Double, b: Double) = if (b == 0) None else Some(a / b)
    val vs = (es.map(_._1) ++ es.map(_._2)).distinct
    val (n, m, mUnique) = (vs.size.toDouble, es.size.toDouble, es.distinct.size.toDouble)
    val reciprocal = es.count { case (s, t) => es.contains((t, s)) }
    val out = vs.map(v => es.count(_._1 == v).toDouble)
    val in = vs.map(v => es.count(_._2 == v).toDouble)
    val deg = out.zip(in).map { case (a, b) => a + b }
    def mean(xs: Seq[Double]) = div(xs.sum, xs.size)
    def varPop(xs: Seq[Double]) = mean(xs).map(mu => xs.map(x => (x - mu) * (x - mu)).sum / xs.size)
    def cv(xs: Seq[Double]) =
      for (v <- varPop(xs); mu <- mean(xs); r <- div(math.sqrt(v), mu)) yield r * 100
    // core/gini.py on the sorted vector: shift negatives, +1e-7 when min is 0
    def gini(xs: Seq[Double]) = Option.when(xs.nonEmpty) {
      val sorted = xs.sorted
      val adj = if (sorted.head == 0) sorted.map(_ + 0.0000001) else sorted
      adj.zipWithIndex.map { case (x, i) => (2 * (i + 1) - adj.size - 1) * x }.sum / (adj.size * adj.sum)
    }
    def hIndex(xs: Seq[Double]) =
      xs.sorted.reverse.zipWithIndex.collect { case (x, i) if x >= i + 1 => i + 1.0 }.maxOption
        .getOrElse(0.0)
    def hist(xs: Seq[Double]) =
      xs.groupBy(identity).map { case (x, g) => (x, g.size.toLong) }.toSeq.sortBy(_._1)
    def fit(kind: String, xs: Seq[Double]) = MatcherSpec.refFit(hist(xs)).toSeq.flatMap {
      case (alpha, xmin) =>
        Seq(s"powerlaw_exponent_$kind" -> Some(alpha), s"powerlaw_exponent_${kind}_dmin" -> Some(xmin))
    }
    def plots(kind: String, xs: Seq[Double]) =
      hist(xs).map { case (x, c) => s"${kind}_distribution_${x.toLong}" -> Some(c.toDouble) }
    Map(
      "n" -> Some(n), "m" -> Some(m), "mean_degree" -> div(2 * m, n),
      "fill_overall" -> div(m, n * n), "parallel_edges" -> Some(m - mUnique),
      "m_unique" -> Some(mUnique), "fill" -> div(mUnique, n * n),
      "reciprocity" -> div(reciprocal, m),
      "max_degree" -> deg.maxOption, "max_in_degree" -> in.maxOption,
      "max_out_degree" -> out.maxOption,
      "mean_degree_centrality" -> mean(deg).flatMap(div(_, n - 1)),
      "mean_in_degree_centrality" -> mean(in).flatMap(div(_, n - 1)),
      "mean_out_degree_centrality" -> mean(out).flatMap(div(_, n - 1)),
      "max_degree_centrality" -> deg.maxOption.flatMap(div(_, n - 1)),
      "max_in_degree_centrality" -> in.maxOption.flatMap(div(_, n - 1)),
      "max_out_degree_centrality" -> out.maxOption.flatMap(div(_, n - 1)),
      "stddev_in_degree" -> varPop(in).map(math.sqrt), "var_in_degree" -> varPop(in),
      "coefficient_variation_in_degree" -> cv(in),
      "stddev_out_degree" -> varPop(out).map(math.sqrt), "var_out_degree" -> varPop(out),
      "coefficient_variation_out_degree" -> cv(out),
      "gini_coefficient" -> gini(deg), "gini_coefficient_in_degree" -> gini(in),
      "gini_coefficient_out_degree" -> gini(out),
      "h_index_u" -> Some(hIndex(deg)), "h_index_d" -> Some(hIndex(in))) ++
      fit("degree", deg) ++ fit("in_degree", in) ++
      plots("degree", deg) ++ plots("in_degree", in) ++ plots("out_degree", out)
  }

  def assertMatches(got: Map[String, Option[Double]], want: Map[String, Option[Double]]): Unit = {
    assert(got.keySet == want.keySet, s"extra ${got.keySet -- want.keySet}, missing ${want.keySet -- got.keySet}")
    want.foreach {
      case (k, Some(w)) =>
        val g = got(k).getOrElse(fail(s"$k: null, want $w"))
        assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)), s"$k: $g, want $w")
      case (k, None) => assert(got(k).isEmpty, s"$k: ${got(k)}, want null")
    }
  }

  test("measures == brute-force reference on random multigraphs") {
    (1L to 5L).foreach { seed =>
      val es = randomGraph(seed)
      assertMatches(measured(es, relational), reference(es))
    }
  }

  test("measures with the kernels: pagerank and diameter rows beside the same values") {
    val es = randomGraph(11L)
    val got = measured(es, Pipeline.DefaultFeatures + "gini")
    val rel = measured(es, relational)
    assert(got.keySet == rel.keySet + "max_pagerank" + "pseudo_diameter")
    assert(rel.forall { case (k, v) => got(k) == v })
    assert(got("max_pagerank").exists(_ > 0) && got("pseudo_diameter").exists(_ >= 1))
  }

  test("measures null cases: empty edge table and a single self-loop") {
    val empty = measured(Seq.empty, relational)
    assertMatches(empty, reference(Seq.empty))
    Seq("mean_degree", "fill", "reciprocity", "max_degree", "stddev_in_degree",
      "gini_coefficient").foreach(k => assert(empty(k).isEmpty, k))
    assert(empty("n").contains(0.0) && empty("h_index_u").contains(0.0))

    val loop = measured(Seq(("a", "a")), relational)
    assertMatches(loop, reference(Seq(("a", "a"))))
    // n - 1 = 0: every degree centrality is try_divide's null
    Seq("mean_degree_centrality", "max_in_degree_centrality").foreach(k => assert(loop(k).isEmpty, k))
    assert(loop("reciprocity").contains(1.0) && loop("fill").contains(1.0))
    assert(!loop.keySet.exists(_.startsWith("powerlaw")))
  }

  test("measures without the kernels starts at most 10 Spark jobs") {
    val edges = edgesOf(randomGraph(3L)).cache()
    edges.count()
    val jobs = SparkTestSession.jobsDuring(Pipeline.measures(edges, relational).collect())
    edges.unpersist(false)
    assert(jobs <= 10, s"measures started $jobs Spark jobs")
  }
}
