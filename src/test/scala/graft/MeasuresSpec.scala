package graft

import graft.algo.{Bfs, Eigenvector, PageRank}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.measures` against a brute-force reference computed here from
  * the raw edge list: per-vertex degree vectors, lodcc's sorted-vector gini
  * and h-index, and [[MatcherSpec.refFit]] for the power law. The kernels
  * behind the iterative measures (PageRank, Eigenvector, HITS, BFS) are
  * checked on the same graphs against plain-map power iterations and BFS.
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

  // ---- the power iterations and BFS against plain-map references ----

  /** (src, dst, w) links. */
  type Links = Seq[(String, String, Double)]

  def unit(es: Seq[(String, String)]): Links = es.map { case (s, d) => (s, d, 1.0) }

  /** Per-vertex value maps of a (vertex, value...) frame, one map per value column. */
  def byVertex(df: DataFrame): Seq[Map[String, Double]] = {
    val rows = df.collect()
    (1 until df.columns.length).map(i => rows.map(r => r.getString(0) -> r.getDouble(i)).toMap)
  }

  def assertClose(what: String, got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet == want.keySet, s"$what: vertex sets differ")
    want.foreach { case (v, w) =>
      assert(math.abs(got(v) - w) <= 1e-12 * math.abs(w), s"$what($v): ${got(v)}, want $w")
    }
  }

  /** s(v) = Σ f(u, w) over the links (u, v, w), 0 on vertices no link enters. */
  def spread(ls: Links, vs: Seq[String], f: (String, Double) => Double): Map[String, Double] =
    vs.map(_ -> 0.0).toMap ++ ls.groupMapReduce(_._2) { case (u, _, w) => f(u, w) }(_ + _)

  def l2(s: Map[String, Double]): Map[String, Double] = {
    val nrm = math.sqrt(s.values.map(x => x * x).sum)
    if (nrm == 0) s else s.map { case (v, x) => v -> x / nrm }
  }

  /** `maxIter` rounds, or (with `eps`) until the L1 delta is at most eps or
    * x is all zeros; returns x and the rounds run. */
  def refLoop(x0: Map[String, Double], maxIter: Int, eps: Option[Double])(
      round: Map[String, Double] => Map[String, Double]): (Map[String, Double], Int) = {
    var (x, iter, delta) = (x0, 0, Double.MaxValue)
    while (iter < maxIter && eps.forall(delta > _)) {
      val next = round(x)
      delta = if (next.values.forall(_ == 0.0)) 0.0
        else next.map { case (v, y) => math.abs(y - x(v)) }.sum
      x = next
      iter += 1
    }
    (x, iter)
  }

  def refPageRank(ls: Links, teleport: String => Double, maxIter: Int,
                  eps: Option[Double] = None, d: Double = 0.85): (Map[String, Double], Int) = {
    val pos = ls.filter(_._3 > 0)
    val vs = (pos.map(_._1) ++ pos.map(_._2)).distinct
    val wsum = pos.groupMapReduce(_._1)(_._3)(_ + _)
    refLoop(vs.map(v => v -> teleport(v)).toMap, maxIter, eps) { x =>
      spread(pos, vs, (u, w) => x(u) * w / wsum(u)).map { case (v, s) => v -> (teleport(v) + d * s) }
    }
  }

  def refEigenvector(ls: Links, maxIter: Int, eps: Option[Double] = None): Map[String, Double] = {
    val vs = (ls.map(_._1) ++ ls.map(_._2)).distinct
    refLoop(vs.map(_ -> 1.0 / math.sqrt(vs.size)).toMap, maxIter, eps) { x =>
      l2(spread(ls, vs, (u, _) => x(u)))
    }._1
  }

  def refHits(ls: Links, iters: Int): (Map[String, Double], Map[String, Double]) = {
    val vs = (ls.map(_._1) ++ ls.map(_._2)).distinct
    val back = ls.map { case (s, d, w) => (d, s, w) }
    var hub = vs.map(_ -> 1.0 / math.sqrt(vs.size)).toMap
    var auth = hub
    (1 to iters).foreach { _ =>
      auth = l2(spread(ls, vs, (u, _) => hub(u)))
      hub = l2(spread(back, vs, (v, _) => auth(v)))
    }
    (auth, hub)
  }

  /** BFS distances over the distinct adjacency: (vertex -> hops) from `source`. */
  def refBfs(es: Seq[(String, String)], source: String): Map[String, Long] = {
    val adj = es.distinct.groupMap(_._1)(_._2)
    var dist = Map(source -> 0L)
    var frontier = Seq(source)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= next.map(_ -> (dist(frontier.head) + 1))
      frontier = next
    }
    dist
  }

  /** Random multigraph with self-loops, parallel edges, source-only and
    * sink-only vertices and an isolated 2-cycle; the weighted links add a
    * zero-weight edge (its head appears nowhere else) and non-unit weights. */
  def weighted(es: Seq[(String, String)]): Links =
    es.zipWithIndex.map { case ((s, d), i) => (s, d, 0.5 * (1 + i % 4)) } :+ (("v0", "zero_only", 0.0))

  test("PageRank variants == brute-force reference, PageRank.run with the same round count") {
    val one = SparkTestSession.oneJobPerAction
    (1L to 5L).foreach { seed =>
      val es = randomGraph(seed)
      val ls = unit(es)
      val e = edgesOf(es)
      val tele = (_: String) => 0.15
      // run: one job per round in a session without AQE, so the jobs beyond
      // the setup-only run (maxIter = 0) count the rounds
      val eOne = one.createDataFrame(e.rdd, e.schema)
      var got: DataFrame = null
      val setupJobs = SparkTestSession.jobsDuring(PageRank.run(eOne, maxIter = 0))
      val rounds = SparkTestSession.jobsDuring { got = PageRank.run(eOne) } - setupJobs
      val (want, wantRounds) = refPageRank(ls, tele, 100, Some(1e-6))
      assertClose(s"run/$seed", byVertex(got).head, want)
      assert(rounds == wantRounds, s"run/$seed: $rounds rounds, want $wantRounds")

      assertClose(s"runFixed/$seed", byVertex(PageRank.runFixed(e, 10)).head,
        refPageRank(ls, tele, 10)._1)
      val w = weighted(es)
      assertClose(s"runWeightedFixed/$seed",
        byVertex(PageRank.runWeightedFixed(w.toDF("src", "dst", "w"), "w", 10)).head,
        refPageRank(w, tele, 10)._1)
      val seeds = Seq("v1", "p")
      assertClose(s"runPersonalizedFixed/$seed",
        byVertex(PageRank.runPersonalizedFixed(e, seeds, 10)).head,
        refPageRank(ls, v => if (seeds.contains(v)) 0.15 / seeds.size else 0.0, 10)._1)
    }
  }

  test("Eigenvector and HITS == brute-force reference, incl. an acyclic graph (norm -> 0)") {
    val acyclic = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("b", "c"), ("c", "d"), ("e", "d"))
    ((1L to 5L).map(s => s.toString -> randomGraph(s)) :+ ("acyclic" -> acyclic)).foreach {
      case (name, es) =>
        val e = edgesOf(es)
        val ls = unit(es)
        assertClose(s"Eigenvector.run/$name", byVertex(Eigenvector.run(e)).head,
          refEigenvector(ls, 100, Some(1e-6)))
        assertClose(s"Eigenvector.runFixed/$name", byVertex(Eigenvector.runFixed(e, 8)).head,
          refEigenvector(ls, 8))
        val Seq(auth, hub) = byVertex(graft.algo.Hits.runFixed(e, 8))
        val (wantAuth, wantHub) = refHits(ls, 8)
        assertClose(s"Hits.auth/$name", auth, wantAuth)
        assertClose(s"Hits.hub/$name", hub, wantHub)
    }
    // no cycle: every value reaches exactly 0
    assert(byVertex(Eigenvector.run(edgesOf(acyclic))).head.values.forall(_ == 0.0))
  }

  test("Bfs.distances and multiSourceDistances == brute-force BFS") {
    (1L to 5L).foreach { seed =>
      val es = randomGraph(seed)
      val e = edgesOf(es)
      val sources = Seq("v0", "p", "source_only", "sink_only")
      sources.foreach { s =>
        val rows = Bfs.distances(e, s).collect()
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(rows.length == got.size && got == refBfs(es, s), s"distances/$seed from $s")
      }
      val rows = Bfs.multiSourceDistances(e, sources).collect()
      val multi = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(rows.length == multi.size, s"multiSourceDistances/$seed: duplicate rows")
      assert(multi == sources.flatMap(s => refBfs(es, s).map { case (v, d) => (s, v) -> d }).toMap,
        s"multiSourceDistances/$seed")
    }
  }
}
