package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.measures.{CoreMeasures, Degrees, DistributionMeasures, RdfMeasures}
import QueryUtil._

/** Driver-checked queries for the lodcc measure inventory (SURVEY.md §2.4),
  * each paired with a DuckDB oracle over the same parquet tables.
  */
object KgQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_basic" -> ((s, dir) =>
      roundDoubles(CoreMeasures.basic(liEdges(s, dir)))),

    "kg_degree_stats" -> ((s, dir) =>
      roundDoubles(CoreMeasures.degreeStats(Degrees.degrees(liEdges(s, dir))))),

    "kg_max_vertices" -> ((s, dir) =>
      CoreMeasures.maxDegreeVertices(Degrees.degrees(liEdges(s, dir)))),

    // the histograms come from one job (Degrees.histograms): no frame is
    // read by more than one action, so nothing is pinned
    "kg_gini" -> ((s, dir) => {
      import s.implicits._
      val h = Degrees.histograms(Degrees.degrees(liEdges(s, dir)))
      def g(k: String) = DistributionMeasures.gini(h(k))
      roundDoubles(Seq((g("deg"), g("in_deg"), g("out_deg"))).toDF("gini_coefficient",
        "gini_coefficient_in_degree", "gini_coefficient_out_degree"))
    }),

    "kg_hindex" -> ((s, dir) => {
      import s.implicits._
      val h = Degrees.histograms(Degrees.degrees(liEdges(s, dir)))
      Seq((DistributionMeasures.hIndex(h("deg")), DistributionMeasures.hIndex(h("in_deg"))))
        .toDF("h_index_u", "h_index_d")
    }),

    "kg_rdf_out" -> ((s, dir) => {
      val e = liEdges(s, dir)
      roundDoubles(RdfMeasures.outDegree(e)
        .crossJoin(RdfMeasures.partialOutDegree(e))
        .crossJoin(RdfMeasures.labelledOutDegree(e))
        .crossJoin(RdfMeasures.directOutDegree(e)))
    }),

    "kg_rdf_in" -> ((s, dir) => {
      val e = liEdges(s, dir)
      roundDoubles(RdfMeasures.inDegree(e)
        .crossJoin(RdfMeasures.partialInDegree(e))
        .crossJoin(RdfMeasures.labelledInDegree(e))
        .crossJoin(RdfMeasures.directInDegree(e)))
    }),

    "kg_rdf_pred" -> ((s, dir) => {
      val e = liEdges(s, dir)
      roundDoubles(RdfMeasures.predicateDegree(e)
        .crossJoin(RdfMeasures.predicateInDegree(e))
        .crossJoin(RdfMeasures.predicateOutDegree(e)))
    }),

    "kg_rdf_ratio" -> ((s, dir) =>
      roundDoubles(RdfMeasures.subjectObjectRatio(liEdges(s, dir)))),

    // Eq.13-16 analogs — TODO'd in the reference ("costly computation",
    // common_ratios.py:15-23), one semi-join each here. Label space mapped
    // into the vertex space so the intersections are non-trivial.
    "kg_rdf_ratio2" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/lineitem.parquet").select(
        concat(lit("v"), (col("l_orderkey") % 4096).cast("string")).as("src"),
        concat(lit("v"), (col("l_partkey") % 4096).cast("string")).as("dst"),
        concat(lit("v"), ((col("l_suppkey") * 7) % 4096).cast("string")).as("label"))
      roundDoubles(graft.measures.RdfMeasures.subjectPredicateRatio(e)
        .crossJoin(graft.measures.RdfMeasures.predicateObjectRatio(e)))
    }),

    "kg_predicate_lists" -> ((s, dir) =>
      roundDoubles(RdfMeasures.predicateLists(liEdges(s, dir)))),

    "kg_typed" -> ((s, dir) =>
      roundDoubles(RdfMeasures.typedMeasures(liEdges(s, dir), "p0"))),

    "kg_reciprocity" -> ((s, dir) =>
      roundDoubles(CoreMeasures.reciprocity(liEdges(s, dir)))),

    "kg_centralization" -> ((s, dir) =>
      roundDoubles(CoreMeasures.centralizationDegree(liEdges(s, dir)))),

    "kg_degree_distribution" -> ((s, dir) =>
      Degrees.degrees(liEdges(s, dir))
        .groupBy(col("deg").as("degree")).agg(count(lit(1)).as("cnt"))
        .orderBy("degree")),

    "kg_assortativity" -> ((s, dir) =>
      roundDoubles(CoreMeasures.assortativity(liEdges(s, dir)))),

    "kg_cooccur" -> ((s, dir) => {
      // dst-dst co-occurrence via shared src; cap 120 distinct items per
      // context — inert at sf0.01 (~15 items/src) and binding at sf0.1
      // (~146 items/src), so cross-scale runs exercise both guard paths
      val co = graft.graph.GraphTables.coOccurrence(
        liEdges(s, dir).select(col("src"), col("dst")), "src", "dst",
        maxContextDf = 120)
      co.agg(
        count(lit(1)).cast("bigint").as("n_pairs"),
        sum("weight").cast("bigint").as("weight_sum"),
        max("weight").cast("bigint").as("weight_max"),
        sum(col("weight") *
          (graft.ops.TextOps.portableHash64(concat(col("a"), lit("|"), col("b")))
            % 1000003L)).cast("bigint").as("pair_checksum"))
    }),

    "kg_khop" -> ((s, dir) => {
      // bounded property path (p1{1,3}) from the 50 lowest-numbered
      // vertices: distinct (origin, v) pairs by MINIMUM hop count
      val reach = graft.graph.GraphTables.kHop(liEdges(s, dir), "p1",
        substring(col("src"), 2, 10).cast("long") < 50, maxHops = 3)
      reach.groupBy("hops").agg(
        count(lit(1)).as("n_pairs"),
        count_distinct(col("origin")).as("n_origins"),
        sum(substring(col("origin"), 2, 10).cast("long") * 4099L +
          substring(col("v"), 2, 10).cast("long")).as("checksum"))
        .orderBy("hops")
    }),

    "kg_walks" -> ((s, dir) => {
      // DeepWalk-style corpus: 2 seeded walks of 3 steps from the 20
      // lowest-numbered vertices; per-step visit counts + checksum
      val w = graft.graph.GraphTables.randomWalks(liEdges(s, dir),
        substring(col("src"), 2, 10).cast("long") < 20, nWalks = 2, steps = 3)
      w.groupBy("step").agg(
        count(lit(1)).as("n_visits"),
        count_distinct(col("v")).as("n_vertices"),
        sum(substring(col("v"), 2, 10).cast("long") * 4099L +
          substring(col("origin"), 2, 10).cast("long") * 31L +
          col("walk")).as("checksum"))
        .orderBy("step")
    }),

    "kg_node2vec" -> ((s, dir) => {
      // node2vec corpus (p=4, q=2 as integer weights 1/4/2): 2 seeded
      // second-order walks of 3 steps from the 20 lowest-numbered
      // vertices, adjacency capped at 64 neighbors — inert at sf0.01
      // (~15 out-neighbors/src) and binding at sf0.1 (~146), so
      // cross-scale runs exercise both guard paths
      val w = graft.graph.GraphTables.node2vecWalks(liEdges(s, dir),
        substring(col("src"), 2, 10).cast("long") < 20, nWalks = 2,
        steps = 3, wReturn = 1, wCommon = 4, wOut = 2, maxOutDegree = 64)
      w.groupBy("step").agg(
        count(lit(1)).as("n_visits"),
        count_distinct(col("v")).as("n_vertices"),
        sum(substring(col("v"), 2, 10).cast("long") * 4099L +
          substring(col("origin"), 2, 10).cast("long") * 31L +
          col("walk")).as("checksum"))
        .orderBy("step")
    }),

    "kg_negative_samples" -> ((s, dir) => {
      // filtered tail-corruption negatives over the integer-encoded
      // triple table (one candidate per input edge, parallel edges kept)
      val e = liEdges(s, dir)
      val ids = graft.graph.GraphTables.vertexIds(e)
      val it = graft.graph.GraphTables.intEdges(e, ids)
        .select(col("src_id"),
          substring(col("label"), 2, 10).cast("long").as("label_id"),
          col("dst_id"))
      val n = ids.agg(count(lit(1)).as("n_vertices"))
      val neg = graft.graph.GraphTables.negativeSamples(it, n)
      neg.agg(
        count(lit(1)).as("n_negatives"),
        count_distinct(col("neg_dst_id")).as("distinct_neg_tails"),
        sum(col("src_id") * 4099L + col("neg_dst_id")).as("checksum"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "kg_assortativity" ->
      s"""$edgesCte
         |SELECT CAST(round(corr(CAST(dx.deg AS DOUBLE), CAST(dy.deg AS DOUBLE)), 6) AS DOUBLE)
         |         AS assortativity
         |FROM edges e
         |JOIN degv dx ON dx.vertex = e.src
         |JOIN degv dy ON dy.vertex = e.dst""".stripMargin,

    "kg_cooccur" ->
      s"""$edgesCte,
         |t AS (SELECT DISTINCT src AS ctx, dst AS item FROM edges),
         |hot AS (
         |  SELECT ctx FROM (SELECT ctx, count(*) AS d FROM t GROUP BY 1) h
         |  WHERE d > 120),
         |b AS (SELECT * FROM t WHERE ctx NOT IN (SELECT ctx FROM hot)),
         |p AS (
         |  SELECT x.item AS a, y.item AS b2, count(*) AS w
         |  FROM b x JOIN b y ON x.ctx = y.ctx AND x.item < y.item
         |  GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(w) AS BIGINT) AS weight_sum,
         |       CAST(max(w) AS BIGINT) AS weight_max,
         |       CAST(sum(w * (('0x' || substr(md5(a || '|' || b2), 1, 15))::BIGINT
         |         % 1000003)) AS BIGINT) AS pair_checksum
         |FROM p""".stripMargin,

    "kg_khop" ->
      s"""$edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE label = 'p1'),
         |h1 AS (SELECT DISTINCT src AS origin, dst AS v FROM e
         |       WHERE CAST(substr(src, 2) AS BIGINT) < 50),
         |h2 AS (SELECT DISTINCT h.origin, e.dst AS v FROM h1 h JOIN e ON h.v = e.src),
         |h3 AS (SELECT DISTINCT h.origin, e.dst AS v FROM h2 h JOIN e ON h.v = e.src),
         |r AS (
         |  SELECT origin, v, 1 AS hops FROM h1
         |  UNION ALL SELECT origin, v, 2 FROM h2
         |  UNION ALL SELECT origin, v, 3 FROM h3),
         |m AS (SELECT origin, v, min(hops) AS hops FROM r GROUP BY origin, v)
         |SELECT CAST(hops AS INT) AS hops,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT origin) AS BIGINT) AS n_origins,
         |       CAST(sum(CAST(substr(origin, 2) AS BIGINT) * 4099
         |                + CAST(substr(v, 2) AS BIGINT)) AS BIGINT) AS checksum
         |FROM m GROUP BY hops ORDER BY hops""".stripMargin,

    "kg_walks" ->
      s"""$edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |adj AS (SELECT src, dst,
         |          CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
         |               AS BIGINT) AS rnk FROM e),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
         |starts AS (SELECT DISTINCT src AS origin FROM e
         |           WHERE CAST(substr(src, 2) AS BIGINT) < 20),
         |w0 AS (SELECT origin, CAST(t.walk AS INT) AS walk, origin AS v
         |       FROM starts, range(0, 2) t(walk)),
         |w1 AS (
         |  SELECT f.origin, f.walk, a.dst AS v
         |  FROM w0 f JOIN od o ON o.src = f.v
         |  JOIN adj a ON a.src = f.v AND a.rnk =
         |    (('0x' || substr(md5(f.origin || '#' || CAST(f.walk AS VARCHAR)
         |       || '#1#' || f.v), 1, 15))::BIGINT % o.d)),
         |w2 AS (
         |  SELECT f.origin, f.walk, a.dst AS v
         |  FROM w1 f JOIN od o ON o.src = f.v
         |  JOIN adj a ON a.src = f.v AND a.rnk =
         |    (('0x' || substr(md5(f.origin || '#' || CAST(f.walk AS VARCHAR)
         |       || '#2#' || f.v), 1, 15))::BIGINT % o.d)),
         |w3 AS (
         |  SELECT f.origin, f.walk, a.dst AS v
         |  FROM w2 f JOIN od o ON o.src = f.v
         |  JOIN adj a ON a.src = f.v AND a.rnk =
         |    (('0x' || substr(md5(f.origin || '#' || CAST(f.walk AS VARCHAR)
         |       || '#3#' || f.v), 1, 15))::BIGINT % o.d)),
         |w AS (
         |  SELECT origin, walk, 0 AS step, v FROM w0
         |  UNION ALL SELECT origin, walk, 1, v FROM w1
         |  UNION ALL SELECT origin, walk, 2, v FROM w2
         |  UNION ALL SELECT origin, walk, 3, v FROM w3)
         |SELECT CAST(step AS INT) AS step,
         |       CAST(count(*) AS BIGINT) AS n_visits,
         |       CAST(count(DISTINCT v) AS BIGINT) AS n_vertices,
         |       CAST(sum(CAST(substr(v, 2) AS BIGINT) * 4099
         |                + CAST(substr(origin, 2) AS BIGINT) * 31
         |                + walk) AS BIGINT) AS checksum
         |FROM w GROUP BY step ORDER BY step""".stripMargin,

    "kg_node2vec" ->
      s"""$edgesCte,
         |r AS (SELECT src, dst,
         |        CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
         |             AS BIGINT) AS rnk
         |      FROM (SELECT DISTINCT src, dst FROM edges) e0),
         |adj AS (SELECT * FROM r WHERE rnk < 64),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY src),
         |starts AS (SELECT DISTINCT src AS origin FROM adj
         |           WHERE CAST(substr(src, 2) AS BIGINT) < 20),
         |w0 AS (SELECT origin, CAST(t.walk AS INT) AS walk, origin AS v
         |       FROM starts, range(0, 2) t(walk)),
         |w1 AS (
         |  SELECT f.origin, f.walk, f.v AS prev, a.dst AS v
         |  FROM w0 f JOIN od o ON o.src = f.v
         |  JOIN adj a ON a.src = f.v AND a.rnk =
         |    (('0x' || substr(md5(f.origin || '#' || CAST(f.walk AS VARCHAR)
         |       || '#1#' || f.v), 1, 15))::BIGINT % o.d)),
         |c2 AS (
         |  SELECT f.origin, f.walk, f.prev, f.v, a.dst AS x,
         |         CAST(CASE WHEN a.dst = f.prev THEN 1
         |                   WHEN t.dst IS NOT NULL THEN 4
         |                   ELSE 2 END AS BIGINT) AS w
         |  FROM w1 f JOIN adj a ON a.src = f.v
         |  LEFT JOIN adj t ON t.src = f.prev AND t.dst = a.dst),
         |s2 AS (SELECT *,
         |         sum(w) OVER (PARTITION BY origin, walk ORDER BY x
         |                      ROWS UNBOUNDED PRECEDING) AS cum,
         |         sum(w) OVER (PARTITION BY origin, walk) AS tot
         |       FROM c2),
         |w2 AS (
         |  SELECT origin, walk, v AS prev, x AS v FROM s2
         |  WHERE (('0x' || substr(md5(origin || '#' || CAST(walk AS VARCHAR)
         |          || '#2#' || prev || '#' || v), 1, 15))::BIGINT % tot)
         |        BETWEEN cum - w AND cum - 1),
         |c3 AS (
         |  SELECT f.origin, f.walk, f.prev, f.v, a.dst AS x,
         |         CAST(CASE WHEN a.dst = f.prev THEN 1
         |                   WHEN t.dst IS NOT NULL THEN 4
         |                   ELSE 2 END AS BIGINT) AS w
         |  FROM w2 f JOIN adj a ON a.src = f.v
         |  LEFT JOIN adj t ON t.src = f.prev AND t.dst = a.dst),
         |s3 AS (SELECT *,
         |         sum(w) OVER (PARTITION BY origin, walk ORDER BY x
         |                      ROWS UNBOUNDED PRECEDING) AS cum,
         |         sum(w) OVER (PARTITION BY origin, walk) AS tot
         |       FROM c3),
         |w3 AS (
         |  SELECT origin, walk, v AS prev, x AS v FROM s3
         |  WHERE (('0x' || substr(md5(origin || '#' || CAST(walk AS VARCHAR)
         |          || '#3#' || prev || '#' || v), 1, 15))::BIGINT % tot)
         |        BETWEEN cum - w AND cum - 1),
         |w AS (
         |  SELECT origin, walk, 0 AS step, v FROM w0
         |  UNION ALL SELECT origin, walk, 1, v FROM w1
         |  UNION ALL SELECT origin, walk, 2, v FROM w2
         |  UNION ALL SELECT origin, walk, 3, v FROM w3)
         |SELECT CAST(step AS INT) AS step,
         |       CAST(count(*) AS BIGINT) AS n_visits,
         |       CAST(count(DISTINCT v) AS BIGINT) AS n_vertices,
         |       CAST(sum(CAST(substr(v, 2) AS BIGINT) * 4099
         |                + CAST(substr(origin, 2) AS BIGINT) * 31
         |                + walk) AS BIGINT) AS checksum
         |FROM w GROUP BY step ORDER BY step""".stripMargin,

    "kg_negative_samples" ->
      s"""$edgesCte,
         |ids AS (
         |  SELECT v AS vhash, CAST(row_number() OVER (ORDER BY v) - 1 AS BIGINT) AS vid
         |  FROM (SELECT DISTINCT src AS v FROM edges UNION SELECT dst FROM edges) w),
         |it AS (
         |  SELECT si.vid AS src_id, CAST(substr(e.label, 2) AS BIGINT) AS label_id,
         |         di.vid AS dst_id
         |  FROM edges e JOIN ids si ON si.vhash = e.src JOIN ids di ON di.vhash = e.dst),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM ids),
         |cand AS (
         |  SELECT src_id, label_id, dst_id, n_vertices,
         |         (src_id * 1103515245 + dst_id * 2654435769 + label_id * 97 + 12345)
         |           % n_vertices AS draw
         |  FROM it, n),
         |c2 AS (
         |  SELECT src_id, label_id, dst_id,
         |         CASE WHEN draw = dst_id THEN (draw + 1) % n_vertices ELSE draw END
         |           AS neg_dst_id
         |  FROM cand),
         |filtered AS (
         |  SELECT c.* FROM c2 c
         |  WHERE NOT EXISTS (SELECT 1 FROM it t
         |                    WHERE t.src_id = c.src_id AND t.label_id = c.label_id
         |                      AND t.dst_id = c.neg_dst_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_negatives,
         |       CAST(count(DISTINCT neg_dst_id) AS BIGINT) AS distinct_neg_tails,
         |       CAST(sum(src_id * 4099 + neg_dst_id) AS BIGINT) AS checksum
         |FROM filtered""".stripMargin,

    "kg_basic" ->
      s"""$edgesCte
         |SELECT n.n, m.m,
         |  CAST(round(2.0*m.m/n.n, 6) AS DOUBLE) AS mean_degree,
         |  CAST(round(CAST(m.m AS DOUBLE)/(n.n*n.n), 6) AS DOUBLE) AS fill_overall,
         |  m.m - m.mu AS parallel_edges,
         |  m.mu AS m_unique,
         |  CAST(round(CAST(m.mu AS DOUBLE)/(n.n*n.n), 6) AS DOUBLE) AS fill
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) q) w) n,
         |     (SELECT CAST(count(*) AS BIGINT) AS m,
         |             CAST((SELECT count(*) FROM (SELECT DISTINCT src, dst FROM edges) x) AS BIGINT) AS mu
         |      FROM edges) m""".stripMargin,

    "kg_degree_stats" ->
      s"""$edgesCte
         |SELECT
         |  max(deg) AS max_degree, max(in_deg) AS max_in_degree, max(out_deg) AS max_out_degree,
         |  CAST(round(sum(deg)/(count(*)-1.0)/count(*), 6) AS DOUBLE) AS mean_degree_centrality,
         |  CAST(round(sum(in_deg)/(count(*)-1.0)/count(*), 6) AS DOUBLE) AS mean_in_degree_centrality,
         |  CAST(round(sum(out_deg)/(count(*)-1.0)/count(*), 6) AS DOUBLE) AS mean_out_degree_centrality,
         |  CAST(round(max(deg)/(count(*)-1.0), 6) AS DOUBLE) AS max_degree_centrality,
         |  CAST(round(max(in_deg)/(count(*)-1.0), 6) AS DOUBLE) AS max_in_degree_centrality,
         |  CAST(round(max(out_deg)/(count(*)-1.0), 6) AS DOUBLE) AS max_out_degree_centrality,
         |  CAST(round(stddev_pop(in_deg), 6) AS DOUBLE) AS stddev_in_degree,
         |  CAST(round(stddev_pop(in_deg)/(sum(in_deg)/CAST(count(*) AS DOUBLE))*100, 6) AS DOUBLE) AS coefficient_variation_in_degree,
         |  CAST(round(stddev_pop(out_deg), 6) AS DOUBLE) AS stddev_out_degree,
         |  CAST(round(stddev_pop(out_deg)/(sum(out_deg)/CAST(count(*) AS DOUBLE))*100, 6) AS DOUBLE) AS coefficient_variation_out_degree,
         |  CAST(round(var_pop(in_deg), 6) AS DOUBLE) AS var_in_degree,
         |  CAST(round(var_pop(out_deg), 6) AS DOUBLE) AS var_out_degree
         |FROM degv""".stripMargin,

    "kg_max_vertices" ->
      s"""$edgesCte
         |SELECT
         |  (SELECT vertex FROM degv ORDER BY deg DESC, vertex DESC LIMIT 1) AS max_degree_vertex,
         |  (SELECT vertex FROM degv ORDER BY in_deg DESC, vertex DESC LIMIT 1) AS max_in_degree_vertex,
         |  (SELECT vertex FROM degv ORDER BY out_deg DESC, vertex DESC LIMIT 1) AS max_out_degree_vertex""".stripMargin,

    "kg_gini" ->
      s"""$edgesCte
         |SELECT
         |  ${giniSql("deg", "gini_coefficient")},
         |  ${giniSql("in_deg", "gini_coefficient_in_degree")},
         |  ${giniSql("out_deg", "gini_coefficient_out_degree")}""".stripMargin,

    "kg_hindex" ->
      s"""$edgesCte
         |SELECT
         |  ${hIndexSql("deg", "h_index_u")},
         |  ${hIndexSql("in_deg", "h_index_d")}""".stripMargin,

    "kg_rdf_out" ->
      s"""$edgesCte
         |SELECT
         |  (SELECT max(c) FROM (SELECT count(*) AS c FROM edges GROUP BY src) t) AS max_out_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(*) AS c FROM edges GROUP BY src) t) AS mean_out_degree,
         |  (SELECT max(c) FROM (SELECT count(*) AS c FROM edges GROUP BY src, label) t) AS max_partial_out_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(*) AS c FROM edges GROUP BY src, label) t) AS mean_partial_out_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT label) AS c FROM edges GROUP BY src) t) AS max_labelled_out_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT label) AS c FROM edges GROUP BY src) t) AS mean_labelled_out_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT dst) AS c FROM edges GROUP BY src) t) AS max_direct_out_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT dst) AS c FROM edges GROUP BY src) t) AS mean_direct_out_degree""".stripMargin,

    "kg_rdf_in" ->
      s"""$edgesCte
         |SELECT
         |  (SELECT max(c) FROM (SELECT count(*) AS c FROM edges GROUP BY dst) t) AS max_in_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(*) AS c FROM edges GROUP BY dst) t) AS mean_in_degree,
         |  (SELECT max(c) FROM (SELECT count(*) AS c FROM edges GROUP BY dst, label) t) AS max_partial_in_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(*) AS c FROM edges GROUP BY dst, label) t) AS mean_partial_in_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT label) AS c FROM edges GROUP BY dst) t) AS max_labelled_in_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT label) AS c FROM edges GROUP BY dst) t) AS mean_labelled_in_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT src) AS c FROM edges GROUP BY dst) t) AS max_direct_in_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT src) AS c FROM edges GROUP BY dst) t) AS mean_direct_in_degree""".stripMargin,

    "kg_rdf_pred" ->
      s"""$edgesCte
         |SELECT
         |  (SELECT max(c) FROM (SELECT count(*) AS c FROM edges GROUP BY label) t) AS max_predicate_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(*) AS c FROM edges GROUP BY label) t) AS mean_predicate_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT src) AS c FROM edges GROUP BY label) t) AS max_predicate_in_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT src) AS c FROM edges GROUP BY label) t) AS mean_predicate_in_degree,
         |  (SELECT max(c) FROM (SELECT count(DISTINCT dst) AS c FROM edges GROUP BY label) t) AS max_predicate_out_degree,
         |  (SELECT CAST(round(avg(c), 6) AS DOUBLE) FROM (SELECT count(DISTINCT dst) AS c FROM edges GROUP BY label) t) AS mean_predicate_out_degree""".stripMargin,

    "kg_rdf_ratio" ->
      s"""$edgesCte
         |SELECT CAST(round(
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT src FROM edges INTERSECT SELECT DISTINCT dst FROM edges) t) AS DOUBLE) /
         |  (SELECT count(*) FROM (SELECT src FROM edges UNION SELECT dst FROM edges) t), 6) AS DOUBLE)
         |AS subject_object_ratio""".stripMargin,

    "kg_rdf_ratio2" ->
      """WITH edges AS (
        |  SELECT 'v' || (l_orderkey % 4096) AS src,
        |         'v' || (l_partkey % 4096) AS dst,
        |         'v' || ((l_suppkey * 7) % 4096) AS label
        |  FROM lineitem)
        |SELECT
        |  CAST(round(
        |    CAST((SELECT count(*) FROM (SELECT DISTINCT src FROM edges INTERSECT SELECT DISTINCT label FROM edges) t) AS DOUBLE) /
        |    (SELECT count(*) FROM (SELECT src FROM edges UNION SELECT label FROM edges) t), 6) AS DOUBLE)
        |  AS subject_predicate_ratio,
        |  CAST(round(
        |    CAST((SELECT count(*) FROM (SELECT DISTINCT label FROM edges INTERSECT SELECT DISTINCT dst FROM edges) t) AS DOUBLE) /
        |    (SELECT count(*) FROM (SELECT label FROM edges UNION SELECT dst FROM edges) t), 6) AS DOUBLE)
        |  AS predicate_object_ratio""".stripMargin,

    "kg_predicate_lists" ->
      s"""$edgesCte,
         |lists AS (SELECT src, string_agg(label, ',' ORDER BY label) AS plist FROM edges GROUP BY src),
         |perlist AS (SELECT plist, CAST(count(*) AS BIGINT) AS c FROM lists GROUP BY plist)
         |SELECT
         |  CAST(round(1.0 - CAST(count(*) AS DOUBLE)/sum(c), 6) AS DOUBLE) AS repeated_predicate_lists,
         |  CAST(max(c) AS BIGINT) AS max_predicate_list_degree,
         |  CAST(round(CAST(sum(c) AS DOUBLE)/count(*), 6) AS DOUBLE) AS mean_predicate_list_degree
         |FROM perlist""".stripMargin,

    "kg_typed" ->
      s"""$edgesCte
         |SELECT
         |  (SELECT CAST(count(DISTINCT dst) AS BIGINT) FROM edges WHERE label = 'p0') AS distinct_classes,
         |  (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM edges WHERE label = 'p0') AS typed_subjects,
         |  CAST(round(
         |    CAST((SELECT count(DISTINCT src) FROM edges WHERE label = 'p0') AS DOUBLE) /
         |    (SELECT count(DISTINCT src) FROM edges), 6) AS DOUBLE) AS ratio_of_typed_subjects""".stripMargin,

    "kg_reciprocity" ->
      s"""$edgesCte
         |SELECT CAST(round(
         |  CAST((SELECT count(*) FROM edges e
         |        WHERE EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)) AS DOUBLE) /
         |  (SELECT count(*) FROM edges), 6) AS DOUBLE) AS reciprocity""".stripMargin,

    "kg_centralization" ->
      s"""$edgesCte,
         |sdeg AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT src AS v FROM (SELECT DISTINCT src, dst FROM edges) e
         |    UNION ALL
         |    SELECT dst AS v FROM (SELECT DISTINCT src, dst FROM edges) e
         |  ) u GROUP BY v)
         |SELECT CAST(round(
         |  CAST(count(*)*max(deg) - sum(deg) AS DOUBLE) / ((count(*)-1)*(count(*)-2)), 6) AS DOUBLE)
         |AS centralization_degree FROM sdeg""".stripMargin,

    "kg_degree_distribution" ->
      s"""$edgesCte
         |SELECT deg AS degree, CAST(count(*) AS BIGINT) AS cnt
         |FROM degv GROUP BY deg ORDER BY degree""".stripMargin,
  )
}
