package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.graph.GraphTables
import graft.measures.{CoreMeasures, Degrees, DistributionMeasures, RdfMeasures}

/** The flagship KG-construction pipeline (north rule): transcripts ->
  * per-turn triples -> hashed edge/vertex tables -> lodcc topology measures,
  * end to end on DataFrames.
  *
  * `measures` returns the long-format (measure, value) table; `main` runs it
  * on freshly synthesized transcripts so the whole flow is drivable by
  * `sbt "runMain graft.Pipeline [nConvs]"` / spark-submit.
  */
object Pipeline {

  /** transcripts -> (triples, edges) with stable per-turn emission order. */
  def build(turns: DataFrame, partitions: Int = 32): (DataFrame, DataFrame) = {
    val triples = Extractor.triples(turns, repartitionBy = Some(partitions))
    val edges = GraphTables.edges(triples)
    (triples, edges)
  }

  /** lodcc's default feature set, verbatim (`core_measures.py:188-190`):
    * degree, plots, diameter, fill, h_index, pagerank, parallel_edges,
    * powerlaw, reciprocity — eigenvector and clustering excluded by default
    * "due to runtime", exactly like the reference. `fill` and
    * `parallel_edges` are facets of the basic-measure pass here (aliases
    * resolved inside [[measures]]).
    */
  val DefaultFeatures: Set[String] = Set(
    "degree", "plots", "diameter", "fill", "h_index", "pagerank",
    "parallel_edges", "powerlaw", "reciprocity")

  /** Core + RDF structural measures over an edge table, long format
    * (measure, value). `features` gates which measure groups are computed
    * (lodcc's --features flag analog); unknown names are ignored. The
    * measures are computed when this is called; the result is a local table
    * (one row per scalar measure, plus one per distinct degree value for
    * `plots`).
    *
    * Feature names follow lodcc: basic (aliases: fill, parallel_edges),
    * degree, plots (degree/in/out distribution tables as
    * `<kind>_distribution_<x>` rows), diameter, gini, h_index, pagerank,
    * eigenvector, powerlaw (total AND in-degree fits,
    * `degree_based.py:117-122,168-173`), reciprocity, centralization,
    * clustering, rdf (the Fernandez block). Vertex-valued outputs
    * (argmax vertices, diameter endpoints) are not representable in the
    * numeric long format — use the dedicated CoreMeasures/PageRank APIs.
    *
    * Engine-extra features beyond lodcc's flag set (VERDICT r3 next #9),
    * same opt-in style: kcore (10-core summary), ktruss (4-truss summary),
    * lpa (community count at 5
    * label-propagation rounds), hits (max authority/hub at 8 rounds), ppr
    * (max personalized-pagerank rank seeded on the max-out-degree vertex),
    * assortativity (degree assortativity).
    *
    * `cc` (VERDICT r3 next #3): a shared (vertex, component) snapshot —
    * e.g. the `components` table [[runResumable]] materializes — consumed
    * by the diameter feature instead of recomputing the CC fixpoint inside
    * [[CoreMeasures.pseudoDiameter]].
    */
  def measures(edges: DataFrame, features: Set[String],
               cc: Option[DataFrame] = None): DataFrame = {
    // lodcc flag aliases: fill + parallel_edges come from the basic pass
    val want = features.map {
      case "fill" | "parallel_edges" => "basic"
      case f => f
    }
    // every degree-based measure is driver arithmetic on these two small
    // results (one Spark job each): the three degree histograms and the
    // edge-pair counts
    lazy val hists = Degrees.histograms(Degrees.degrees(edges))
    lazy val pairs = CoreMeasures.pairCounts(edges)
    // a DataFrame-valued feature, collected as long rows
    def rowsOf(df: DataFrame): Seq[(String, Option[Double])] =
      df.select(explode(map(df.columns.toSeq.flatMap(c => Seq(lit(c), col(c).cast("double"))): _*)))
        .collect().map(r => r.getString(0) -> Option.unless(r.isNullAt(1))(r.getDouble(1))).toSeq

    val parts: Seq[(String, () => Seq[(String, Option[Double])])] = Seq(
      "basic" -> (() => CoreMeasures.basic(hists("deg").map(_._2).sum, pairs).longRows),
      "degree" -> (() => CoreMeasures.degreeStats(hists).longRows),
      "reciprocity" -> (() => Seq("reciprocity" -> CoreMeasures.reciprocity(pairs))),
      "centralization" -> (() => rowsOf(CoreMeasures.centralizationDegree(edges))),
      "gini" -> (() => Seq(
        "gini_coefficient" -> DistributionMeasures.gini(hists("deg")),
        "gini_coefficient_in_degree" -> DistributionMeasures.gini(hists("in_deg")),
        "gini_coefficient_out_degree" -> DistributionMeasures.gini(hists("out_deg")))),
      "h_index" -> (() => Seq(
        "h_index_u" -> Some(DistributionMeasures.hIndex(hists("deg")).toDouble),
        "h_index_d" -> Some(DistributionMeasures.hIndex(hists("in_deg")).toDouble))),
      // each fit's rows are present only when that fit has a candidate
      "powerlaw" -> (() => Seq("degree" -> "deg", "in_degree" -> "in_deg").flatMap {
        case (kind, k) =>
          DistributionMeasures.powerlawFit(hists(k), DistributionMeasures.MaxCandidates).toSeq
            .flatMap { case (alpha, xmin) =>
              Seq(s"powerlaw_exponent_$kind" -> Some(alpha), s"powerlaw_exponent_${kind}_dmin" -> Some(xmin))
            }
      }),
      "diameter" -> (() =>
        rowsOf(CoreMeasures.pseudoDiameter(edges, cc).select(col("pseudo_diameter")))),
      "pagerank" -> (() =>
        rowsOf(graft.algo.PageRank.run(edges).agg(max(col("rank")).as("max_pagerank")))),
      "eigenvector" -> (() =>
        rowsOf(graft.algo.Eigenvector.run(edges).agg(max(col("ev")).as("max_eigenvector")))),
      "clustering" -> (() => rowsOf(graft.algo.Triangles.clustering(edges))),
      "kcore" -> (() => rowsOf(
        graft.algo.KCore.summary(edges, k = 10)
          .select(col("core_vertices").as("kcore10_vertices"),
            col("core_edges").as("kcore10_edges"),
            col("max_core_deg").as("kcore10_max_degree")))),
      "ktruss" -> (() => rowsOf(
        graft.algo.KTruss.summary(edges, k = 4)
          .select(col("truss_edges").as("ktruss4_edges"),
            col("truss_vertices").as("ktruss4_vertices"),
            col("max_support").as("ktruss4_max_support")))),
      "lpa" -> (() => rowsOf(
        graft.algo.LabelPropagation.runFixed(edges, iters = 5)
          .agg(count_distinct(col("community")).as("lpa_communities")))),
      "hits" -> (() => rowsOf(
        graft.algo.Hits.runFixed(edges, iters = 8)
          .agg(max(col("auth")).as("max_hits_authority"),
            max(col("hub")).as("max_hits_hub")))),
      "ppr" -> (() => {
        // deterministic seed: the max-out-degree vertex (ties to the
        // greatest vertex), the same convention as pseudo-diameter's source
        val seed = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
          .agg(max_by(col("src"), struct(col("od"), col("src"))))
          .head().getString(0)
        rowsOf(graft.algo.PageRank.runPersonalizedFixed(edges, Seq(seed), iters = 10)
          .agg(max(col("rank")).as("max_personalized_pagerank")))
      }),
      "assortativity" -> (() => rowsOf(CoreMeasures.assortativity(edges))),
      "rdf" -> (() => rowsOf(Seq(
        RdfMeasures.outDegree(edges), RdfMeasures.partialOutDegree(edges),
        RdfMeasures.labelledOutDegree(edges), RdfMeasures.directOutDegree(edges),
        RdfMeasures.inDegree(edges), RdfMeasures.partialInDegree(edges),
        RdfMeasures.labelledInDegree(edges), RdfMeasures.directInDegree(edges),
        RdfMeasures.predicateDegree(edges), RdfMeasures.predicateInDegree(edges),
        RdfMeasures.predicateOutDegree(edges), RdfMeasures.subjectObjectRatio(edges),
        RdfMeasures.predicateLists(edges),
        RdfMeasures.typedMeasures(edges, graft.functions.XxHash64Hex.hexOf("rdf:type")))
        .reduce(_ crossJoin _))),
      // lodcc's `plots` feature: the degree distribution tables, one long row
      // per distinct degree value
      "plots" -> (() =>
        Seq("degree" -> "deg", "in_degree" -> "in_deg", "out_degree" -> "out_deg").flatMap {
          case (kind, k) =>
            hists(k).map { case (x, cnt) => s"${kind}_distribution_${x.toLong}" -> Some(cnt.toDouble) }
        }))

    val spark = edges.sparkSession
    import spark.implicits._
    parts.collect { case (name, f) if want.contains(name) => f() }.flatten
      .distinctBy(_._1)
      .toDF("measure", "value")
  }

  /** Default feature set (lodcc default-features analog). */
  def measures(edges: DataFrame): DataFrame = measures(edges, DefaultFeatures)

  /** Many datasets at once — the reference's headline operating mode
    * (`README.md:6` "many datasets at once"; dataset-level process pool at
    * `core_measures.py:126` Semaphore(min(threads, 20))). The datasets run
    * one after another, each as its own short series of Spark jobs
    * ([[measures]]: two aggregates for every degree-based measure, plus the
    * iterative kernels — diameter, pagerank, eigenvector — of the features
    * asked for); every job still spreads its tasks over the whole cluster.
    * The result is the union of the per-dataset local tables. Output:
    * (dataset, measure, value).
    */
  def measuresMany(datasets: Seq[(String, DataFrame)],
                   features: Set[String] = DefaultFeatures): DataFrame =
    datasets
      .map { case (name, e) =>
        measures(e, features).select(lit(name).as("dataset"), col("measure"), col("value"))
      }
      .reduce(_ union _)

  /** Stats CSV sink (lodcc S10, `--csv` flag analog): the long-format
    * measures table as headered CSV part files.
    */
  def writeStatsCsv(stats: DataFrame, path: String): Unit =
    stats.write.mode("overwrite").option("header", "true").csv(path)

  /** Wide measures matrix — the reference's transposed pivot CSV
    * (`fernandez_et_al/main.py:284-286,299-301`: pandas DataFrame
    * transpose -> to_csv, one row per measure, one column per dataset).
    * Input is [[measuresMany]]'s long table; the pivot's column arity is
    * the DATASET count (operator-bounded, like the reference's matrix
    * width), never the measure count.
    */
  def measuresMatrix(longStats: DataFrame): DataFrame =
    longStats.groupBy("measure").pivot("dataset").agg(first("value"))

  /** Matrix CSV sink: [[measuresMatrix]] as one headered CSV. */
  def writeStatsMatrixCsv(longStats: DataFrame, path: String): Unit =
    measuresMatrix(longStats).orderBy("measure")
      .coalesce(1) // one small matrix file, like the reference's single CSV
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Optional JDBC stats sink — the literal lodcc S9 binding
    * (`db/SqliteHelper.py:153-171` upserts the measure row into an RDBMS).
    * The long-format Parquet table is the default, cluster-native sink; this
    * hook appends the same rows through Spark's generic JDBC writer when a
    * driver jar for the target database is on the classpath.
    */
  def writeStatsJdbc(stats: DataFrame, url: String, table: String,
                     props: java.util.Properties = new java.util.Properties()): Unit =
    stats.write.mode("append").jdbc(url, table, props)

  /** Wide stats upsert — the literal lodcc S9 write semantics
    * (`db/SqliteHelper.py:153-171` save_attribute + `db/helpers.py:53-66`
    * add-column-if-missing): the stats table keeps ONE ROW PER DATASET and
    * ONE COLUMN PER MEASURE; saving a result auto-widens the table with any
    * new measure columns (the ALTER TABLE .. ADD COLUMN analog) and
    * replaces the dataset's row. Implemented over [[graft.io.TableIO]]
    * snapshots — read the latest wide table, drop the dataset's old row,
    * `unionByName(allowMissingColumns)` in the new row (missing cells stay
    * null on both sides, exactly like fresh SQL columns), commit as the
    * next snapshot. Returns the committed snapshot.
    *
    * `longStats` is the single dataset's long-format (measure, value)
    * table; its pivot to one wide row is a driver-side transpose of a few
    * dozen scalars, mirroring the reference's one-row-at-a-time writes.
    */
  def upsertStatsWide(io: graft.io.TableIO, table: String, dataset: String,
                      longStats: DataFrame): io.Snapshot = {
    val spark = longStats.sparkSession
    val wide = longStats
      .groupBy(lit(dataset).as("dataset"))
      .pivot("measure").agg(first("value"))
    val merged = io.latest(table) match {
      case Some(_) =>
        io.read(table).where(col("dataset") =!= dataset)
          .unionByName(wide, allowMissingColumns = true)
      case None => wide
    }
    io.commit(table, merged, stage = "stats_upsert", inputSnapshot = s"dataset:$dataset")
  }

  /** Checkpointed, resumable run (north rule §7.3): every stage commits a
    * snapshot with per-partition lineage; a rerun (e.g. after a kill) skips
    * every stage whose output snapshot already exists for its input
    * snapshot, recomputing only what was lost.
    */
  def runResumable(spark: SparkSession, root: String, nConvs: Long,
                   partitions: Int = 32): DataFrame = {
    val io = new graft.io.TableIO(spark, root)
    val srcSnap = s"synthetic-v1-n$nConvs"
    val turns = io.resumeOrCompute("transcripts", "synthesize", srcSnap) {
      graft.io.Transcripts.generate(spark, nConvs, partitions).toDF()
    }
    val turnsSnap = s"transcripts@${io.latest("transcripts").get.id}"
    val triples = io.resumeOrCompute("triples", "extract", turnsSnap) {
      Extractor.triples(turns, Some(partitions))
    }
    val triplesSnap = s"triples@${io.latest("triples").get.id}"
    val edges = io.resumeOrCompute("edges", "materialize", triplesSnap) {
      GraphTables.edges(triples)
    }
    io.resumeOrCompute("vertices", "materialize", triplesSnap) {
      GraphTables.vertices(triples)
    }
    val edgesSnap = s"edges@${io.latest("edges").get.id}"
    // one CC snapshot shared by every component consumer (diameter here;
    // largest-component filters and dedup-cluster jobs in callers) instead
    // of re-running the CC fixpoint inside each of them
    val cc = io.resumeOrCompute("components", "analyze", edgesSnap) {
      graft.algo.ConnectedComponents.run(edges)
    }
    io.resumeOrCompute("measures", "analyze", edgesSnap) {
      measures(edges, DefaultFeatures, Some(cc))
    }
  }

  /** Daily incremental KG rebuild over TableIO snapshots — the composition
    * the stable-id canonicalizer exists for:
    *
    *  1. extract triples from the NEW transcript batch only (the prior
    *     corpus is never re-read, let alone re-extracted);
    *  2. resolve the batch's surface forms against the persisted canonical
    *     dictionary with STABLE ids
    *     ([[graft.canon.Canonicalizer.incrementalCanonicalize]] — prior
    *     assignments are never renamed; the first batch bootstraps with
    *     the batch canonicalizer) and commit the appended dictionary;
    *  3. rewrite the batch triples through the updated dictionary, tag
    *     them with `batchId`, commit the appended canonical triple table;
    *  4. return the edge-churn report vs the previous snapshot. Ingestion
    *     is append-only, so `n_removed` is structurally 0 — a nonzero
    *     value means an upstream bug (IncrementalBuildSpec pins it).
    *
    * TableIO note: `commit` rewrites the full table per snapshot (the
    * plain-parquet Iceberg stand-in, SURVEY §7.0); a production binding
    * appends the batch partition instead — callers are unchanged.
    */
  def incrementalBuild(io: graft.io.TableIO, newTurns: DataFrame,
                       batchId: String, partitions: Int = 32): DataFrame = {
    val triples = Extractor.triples(newTurns, Some(partitions))
    val surfaces = triples.select(col("subj").as("surface"))
      .unionByName(triples.select(col("obj").as("surface")))
      .distinct()
    val newAssign = io.latest("dict") match {
      case None => graft.canon.Canonicalizer.canonicalize(surfaces)
      case Some(_) =>
        graft.canon.Canonicalizer.incrementalCanonicalize(io.read("dict"), surfaces)
    }
    val dict = io.latest("dict") match {
      case None    => newAssign
      case Some(_) => io.read("dict").unionByName(newAssign)
    }
    io.commit("dict", dict, "canonicalize", batchId)

    val canon = graft.canon.Canonicalizer.applyTo(triples, io.read("dict"))
      .withColumn("batch", lit(batchId))
    val prev = io.latest("canon_triples").map(_ => io.read("canon_triples"))
    val all = prev.map(_.unionByName(canon)).getOrElse(canon)
    io.commit("canon_triples", all, "ingest", batchId)

    def asEdges(t: DataFrame) = t.select(col("subj").as("src"),
      col("pred").as("label"), col("obj").as("dst"))
    val before = prev.map(asEdges).getOrElse(asEdges(canon).limit(0))
    graft.graph.Fusion.edgeChurn(before, asEdges(io.read("canon_triples")))
  }

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.nonEmpty) args(0).toLong else 500L
    val spark = Sessions.start("graft-pipeline",
      Sessions.base(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 32) + Sessions.Adaptive, "WARN")
    args.drop(1).headOption match {
      case Some(root) =>
        // checkpointed, resumable run: Pipeline <nConvs> <tableRoot>
        val t0 = System.nanoTime()
        val m = runResumable(spark, root, nConvs)
        println(f"measures=${m.count()} wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        val io = new graft.io.TableIO(spark, root)
        Seq("transcripts", "triples", "edges", "vertices", "components", "measures").foreach { t =>
          val s = io.latest(t).get
          println(s"  $t: snap=${s.id} rows=${s.rowCount} wall_ms=${s.wallMs} input=${s.inputSnapshot}")
        }
      case None =>
        val turns = graft.io.Transcripts.generate(spark, nConvs).toDF().cache()
        val (triples, edges) = build(turns)
        val e = edges.cache()
        println(s"turns=${turns.count()} triples=${triples.count()} edges=${e.count()}")
        measures(e).orderBy("measure").show(60, truncate = false)
    }
    spark.stop()
  }
}
