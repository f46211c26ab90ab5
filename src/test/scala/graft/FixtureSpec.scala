package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.XxHash64Hex
import graft.graph.GraphTables
import graft.measures.{CoreMeasures, Degrees, DistributionMeasures, RdfMeasures}

/** Golden tests on the reference's own 8-vertex unit graph ("John/Rome",
  * `graph/measures/fernandez_et_al/tests/unitgraphs.py:3-48`). Golden values
  * from the reference's unit tests (FIXTURES.md §A).
  */
class FixtureSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // normative order (A32 is order-sensitive)
  val fixture = Seq(
    ("/John", "foaf:mbox", "john@example.org"),
    ("/John", "foaf:mbox", "john@doe.org"),
    ("/John", "rdf:type", "/Researcher"),
    ("/John", "ex:birthPlace", "/Rome"),
    ("/Giacomo", "ex:areaOfWork", "/Rome"),
    ("/Piero", "ex:areaOfWork", "/Rome"),
    ("/Rome", "foaf:name", "\"Roma\"@it"))

  lazy val triples: DataFrame =
    fixture.zipWithIndex.map { case ((s, p, o), i) => (s, p, o, i.toLong) }
      .toDF("subj", "pred", "obj", "ord")

  lazy val edges: DataFrame = GraphTables.edges(triples).cache()
  lazy val degrees: DataFrame = Degrees.degrees(edges).cache()

  def one(df: DataFrame): Map[String, Any] = {
    val row = df.head()
    row.schema.fieldNames.zip(row.toSeq).toMap
  }
  def d(m: Map[String, Any], k: String): Double = m(k) match {
    case x: Double => x
    case x: Long   => x.toDouble
    case x: Int    => x.toDouble
  }
  def r2(x: Double): Double = math.round(x * 100).toDouble / 100

  test("A20-A23 subject out-degrees (test_subject_out_degrees.py:13-39)") {
    val m = one(RdfMeasures.outDegree(edges)) ++ one(RdfMeasures.partialOutDegree(edges)) ++
      one(RdfMeasures.labelledOutDegree(edges)) ++ one(RdfMeasures.directOutDegree(edges))
    assert(d(m, "max_out_degree") == 4)
    assert(r2(d(m, "mean_out_degree")) == 1.75)
    assert(d(m, "max_partial_out_degree") == 2)
    assert(r2(d(m, "mean_partial_out_degree")) == 1.17)
    assert(d(m, "max_labelled_out_degree") == 3)
    assert(r2(d(m, "mean_labelled_out_degree")) == 1.5)
    assert(d(m, "max_direct_out_degree") == 4)
    assert(r2(d(m, "mean_direct_out_degree")) == 1.75)
  }

  test("A24-A27 object in-degrees (test_object_in_degrees.py:13-39)") {
    val m = one(RdfMeasures.inDegree(edges)) ++ one(RdfMeasures.partialInDegree(edges)) ++
      one(RdfMeasures.labelledInDegree(edges)) ++ one(RdfMeasures.directInDegree(edges))
    assert(d(m, "max_in_degree") == 3)
    assert(r2(d(m, "mean_in_degree")) == 1.4)
    assert(d(m, "max_partial_in_degree") == 2)
    assert(r2(d(m, "mean_partial_in_degree")) == 1.17)
    assert(d(m, "max_labelled_in_degree") == 2)
    assert(r2(d(m, "mean_labelled_in_degree")) == 1.2)
    assert(d(m, "max_direct_in_degree") == 3)
    assert(r2(d(m, "mean_direct_in_degree")) == 1.4)
  }

  test("A28-A30 predicate degrees (test_predicate_degrees.py:13-29)") {
    val m = one(RdfMeasures.predicateDegree(edges)) ++ one(RdfMeasures.predicateInDegree(edges)) ++
      one(RdfMeasures.predicateOutDegree(edges))
    assert(d(m, "max_predicate_degree") == 2)
    assert(r2(d(m, "mean_predicate_degree")) == 1.4)
    assert(d(m, "max_predicate_in_degree") == 2)
    assert(r2(d(m, "mean_predicate_in_degree")) == 1.2)
    assert(d(m, "max_predicate_out_degree") == 2)
    assert(r2(d(m, "mean_predicate_out_degree")) == 1.2)
  }

  test("A31 subject-object ratio (test_common_ratios.py:13-16)") {
    val m = one(RdfMeasures.subjectObjectRatio(edges))
    assert(r2(d(m, "subject_object_ratio")) == 0.12 || d(m, "subject_object_ratio") == 0.125)
    assert(d(m, "subject_object_ratio") == 0.125)
  }

  // predicate lists are order-sensitive: carry the normative edge order
  lazy val edgesWithOrd: DataFrame = {
    import graft.functions.gfunctions.xxh64_hex
    triples.select(
      xxh64_hex(col("subj")).as("src"),
      xxh64_hex(col("obj")).as("dst"),
      xxh64_hex(col("pred")).as("label"),
      col("ord"))
  }

  test("A32 predicate lists (test_predicate_lists.py:13-18)") {
    val m = one(RdfMeasures.predicateLists(edgesWithOrd, Some(col("ord"))))
    assert(d(m, "repeated_predicate_lists") == 0.25)
    assert(d(m, "max_predicate_list_degree") == 2)
    assert(r2(d(m, "mean_predicate_list_degree")) == 1.33)
  }

  test("A33/A34 typed subjects/objects") {
    val typeHash = XxHash64Hex.hexOf("rdf:type")
    val m = one(RdfMeasures.typedMeasures(edges, typeHash))
    assert(d(m, "distinct_classes") == 1)
    assert(d(m, "typed_subjects") == 1)
    assert(d(m, "ratio_of_typed_subjects") == 0.25)
  }

  test("A1-A5 basic measures") {
    val m = one(CoreMeasures.basic(edges))
    assert(d(m, "n") == 8)
    assert(d(m, "m") == 7)
    assert(d(m, "mean_degree") == 1.75)
    assert(d(m, "fill_overall") == 7.0 / 64)
    assert(d(m, "parallel_edges") == 0)
    assert(d(m, "m_unique") == 7)
    assert(d(m, "fill") == 7.0 / 64)
  }

  test("A6-A8 degree stats") {
    val m = one(CoreMeasures.degreeStats(degrees))
    assert(d(m, "max_degree") == 4)
    assert(d(m, "max_in_degree") == 3)
    assert(d(m, "max_out_degree") == 4)
    // s = 1/7; mean_degree_centrality = (14/7)/8 = 0.25
    assert(math.abs(d(m, "mean_degree_centrality") - 0.25) < 1e-12)
    assert(math.abs(d(m, "max_degree_centrality") - 4.0 / 7) < 1e-12)
    // population stddev of in-degrees [0,1,1,1,3,0,0,1]
    val inVec = Seq(0.0, 1.0, 1.0, 1.0, 3.0, 0.0, 0.0, 1.0)
    val mean = inVec.sum / inVec.size
    val varPop = inVec.map(x => (x - mean) * (x - mean)).sum / inVec.size
    assert(math.abs(d(m, "var_in_degree") - varPop) < 1e-12)
    assert(math.abs(d(m, "stddev_in_degree") - math.sqrt(varPop)) < 1e-12)
    assert(math.abs(d(m, "coefficient_variation_in_degree") - math.sqrt(varPop) / mean * 100) < 1e-9)
  }

  test("A6 argmax vertices with insertion-order tie-break (degree_based.py:47) ") {
    // first-occurrence order: subj at 2*ord, obj at 2*ord+1
    val occ = triples.select(col("subj").as("v"), (col("ord") * 2).as("pos"))
      .union(triples.select(col("obj").as("v"), (col("ord") * 2 + 1).as("pos")))
      .groupBy("v").agg(min("pos").as("first_pos"))
      .select(graft.functions.gfunctions.xxh64_hex(col("v")).as("vertex"), col("first_pos"))
    val dWithOrd = degrees.join(occ, "vertex")
    val m = one(CoreMeasures.maxDegreeVertices(dWithOrd, Some("first_pos")))
    // tie /John vs /Rome both degree 4 -> later-inserted /Rome wins
    assert(m("max_degree_vertex") == XxHash64Hex.hexOf("/Rome"))
    assert(m("max_in_degree_vertex") == XxHash64Hex.hexOf("/Rome"))
    assert(m("max_out_degree_vertex") == XxHash64Hex.hexOf("/John"))
  }

  test("A9 gini coefficients (core/gini.py parity incl. epsilon shift)") {
    val h = Degrees.histograms(degrees)
    val g = DistributionMeasures.gini(h("deg")).get
    assert(math.abs(g - 36.0 / (8 * 14)) < 1e-12)
    val gi = DistributionMeasures.gini(h("in_deg")).get
    assert(math.abs(gi - 29.0 / (8 * (7 + 8e-7))) < 1e-9)
  }

  test("A10 h-index") {
    val h = Degrees.histograms(degrees)
    assert(DistributionMeasures.hIndex(h("deg")) == 2)
    assert(DistributionMeasures.hIndex(h("in_deg")) == 1)
  }

  test("A13 centralization_degree") {
    // simple graph = same 7 edges; sum(max-deg) = 8*4-14 = 18; /(7*6)
    val m = one(CoreMeasures.centralizationDegree(edges))
    assert(math.abs(d(m, "centralization_degree") - 18.0 / 42) < 1e-12)
  }

  test("measuresMany: per-dataset long rows; writeStatsCsv round-trips") {
    val m = graft.Pipeline.measuresMany(
      Seq("dsA" -> edges, "dsB" -> edges.limit(3)),
      features = Set("basic", "degree", "reciprocity"))
    val rows = m.collect()
    assert(rows.map(_.getString(0)).toSet == Set("dsA", "dsB"))
    val byDs = rows.groupBy(_.getString(0))
    // identical measure inventory per dataset, different values where m differs
    assert(byDs("dsA").map(_.getString(1)).toSet == byDs("dsB").map(_.getString(1)).toSet)
    def mv(ds: String, k: String): Double =
      byDs(ds).find(_.getString(1) == k).get.getDouble(2)
    assert(mv("dsA", "m") == 7.0 && mv("dsB", "m") == 3.0)
    // CSV sink (lodcc S10): header + all rows round-trip
    val dir = java.nio.file.Files.createTempDirectory("stats_csv").toString + "/out"
    graft.Pipeline.writeStatsCsv(m, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == rows.length)
    assert(back.columns.toSeq == Seq("dataset", "measure", "value"))
  }

  test("A14 reciprocity = 0 on the fixture") {
    assert(d(one(CoreMeasures.reciprocity(edges)), "reciprocity") == 0.0)
  }

  test("engine-extra measure features: kcore/lpa/hits/ppr/assortativity long rows") {
    // VERDICT r3 next #9: the r3 graph extras as opt-in features of the
    // lodcc-shaped measure runner, long-format rows like every other flag
    val m = graft.Pipeline.measures(edges,
      Set("kcore", "lpa", "hits", "ppr", "assortativity"))
    val rows = m.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(rows.keySet == Set("kcore10_vertices", "kcore10_edges",
      "kcore10_max_degree", "lpa_communities", "max_hits_authority",
      "max_hits_hub", "max_personalized_pagerank", "assortativity"))
    // fixture graph has max degree 4 -> the 10-core is empty
    assert(rows("kcore10_vertices") == 0.0 && rows("kcore10_edges") == 0.0)
    // 8 vertices -> between 1 and 8 propagation communities
    assert(rows("lpa_communities") >= 1.0 && rows("lpa_communities") <= 8.0)
    assert(rows("max_hits_authority") > 0.0 && rows("max_hits_authority") <= 1.0)
    assert(rows("max_hits_hub") > 0.0 && rows("max_hits_hub") <= 1.0)
    // ppr seeds on /John (max out-degree 4): rank mass concentrates there
    assert(rows("max_personalized_pagerank") > 0.0 &&
      rows("max_personalized_pagerank") <= 1.0)
    // hand-computed Pearson over endpoint total-degree pairs:
    // five (4,·) one (4,4), two (1,4) -> r = -sqrt(8/15)
    assert(math.abs(rows("assortativity") - (-math.sqrt(8.0 / 15))) < 1e-9)
  }

  test("S-plots: log-log degree-distribution SVGs render and place PDF points exactly") {
    // matplotlib-free twin of lodcc's plot images (degree_based.py:125-145)
    import graft.measures.Plots
    // fixture total-degree histogram: {1 -> 6, 4 -> 2} -> 2 markers
    val svg = Plots.histogramSvg(
      Degrees.histogram(degrees, "deg"), "fixture: degree distribution")
    assert(svg.count(_ == '<') == svg.count(_ == '>')) // balanced tags
    assert("<circle ".r.findAllIn(svg).length == 2)
    assert(svg.contains("1e0") && svg.contains("pdf"))
    // parses as real XML (JDK parser, no external libs)
    val db = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
    db.parse(new java.io.ByteArrayInputStream(svg.getBytes("UTF-8")))
    // per-dataset plot files, one per kind, like the reference image layout
    val dir = java.nio.file.Files.createTempDirectory("graft_plots").toString
    val files = Plots.writeDegreePlots(edges, "fixture", dir)
    assert(files.size == 3 && files.forall(f => new java.io.File(f).length() > 500))
    assert(files.exists(_.endsWith("fixture_in_degree_distribution.svg")))
    // in-degree histogram contains x=0 (sources): log axis must drop it,
    // leaving the positive-degree markers only ({1 -> 4, 3 -> 1} -> 2)
    val inSvg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(files.find(_.contains("_in_degree_")).get)), "UTF-8")
    assert("<circle ".r.findAllIn(inSvg).length == 2)
  }

  test("pseudoDiameter with a precomputed CC snapshot == self-computed (r3 next #3)") {
    val cc = graft.algo.ConnectedComponents.run(edges).cache()
    val shared = one(CoreMeasures.pseudoDiameter(edges, Some(cc)))
    val own = one(CoreMeasures.pseudoDiameter(edges))
    assert(shared == own)
    cc.unpersist(false)
  }

  test("measures matrix: measure x dataset pivot CSV round-trips (main.py:284-301)") {
    val m = graft.Pipeline.measuresMany(
      Seq("dsA" -> edges, "dsB" -> edges.limit(3)),
      features = Set("basic", "degree", "reciprocity"))
    val matrix = graft.Pipeline.measuresMatrix(m)
    assert(matrix.columns.toSeq == Seq("measure", "dsA", "dsB"))
    val longRows = m.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(matrix.count() == longRows.keys.map(_._2).toSet.size)
    // every matrix cell equals the long-table value
    matrix.collect().foreach { r =>
      assert(r.getDouble(1) == longRows(("dsA", r.getString(0))))
      assert(r.getDouble(2) == longRows(("dsB", r.getString(0))))
    }
    val dir = java.nio.file.Files.createTempDirectory("stats_matrix").toString + "/out"
    graft.Pipeline.writeStatsMatrixCsv(m, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq == Seq("measure", "dsA", "dsB"))
    assert(back.count() == matrix.count())
    val backM = back.collect()
      .map(r => r.getString(0) -> r.getString(1).toDouble).toMap
    assert(backM("m") == 7.0)
  }
}
