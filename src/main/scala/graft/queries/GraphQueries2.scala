package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{Eigenvector, Triangles}
import QueryUtil._

/** Eigenvector centrality (fixed-iteration, unrolled SQL twin) and triangle
  * counting / clustering coefficients with a full relational oracle.
  */
object GraphQueries2 {

  /** Cyclic small graph: customers -> nations -> regions -> customers. */
  private def cyclicEdges(s: SparkSession, dir: String): DataFrame = {
    val nation = s.read.parquet(s"$dir/nation.parquet")
      .select(concat(lit("n"), col("n_nationkey").cast("string")).as("src"),
        concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select(concat(lit("c"), (col("c_custkey") % 40).cast("string")).as("src"),
        concat(lit("n"), col("c_nationkey").cast("string")).as("dst"))
    val back = s.read.parquet(s"$dir/region.parquet")
      .select(concat(lit("r"), col("r_regionkey").cast("string")).as("src"),
        concat(lit("c"), (col("r_regionkey") * 8).cast("string")).as("dst"))
    nation.union(cust).union(back)
  }

  private val cyclicCte: String =
    """WITH ge AS (
      |  SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst FROM nation
      |  UNION ALL
      |  SELECT 'c' || (c_custkey % 40) AS src, 'n' || c_nationkey AS dst FROM customer
      |  UNION ALL
      |  SELECT 'r' || r_regionkey AS src, 'c' || (r_regionkey * 8) AS dst FROM region
      |)""".stripMargin

  private def eigenvectorSql(iters: Int,
      finalSelect: String => String = last =>
        s"SELECT vertex, CAST(round(ev, 6) AS DOUBLE) AS ev FROM $last ORDER BY vertex"): String = {
    val steps = (1 to iters).map { k =>
      s"""x$k AS (
         |  SELECT vertex, CASE WHEN nrm = 0 THEN s ELSE s / nrm END AS ev FROM (
         |    SELECT v.v AS vertex, coalesce(c.s, 0) AS s,
         |           sqrt(sum(coalesce(c.s, 0) * coalesce(c.s, 0)) OVER ()) AS nrm
         |    FROM verts v LEFT JOIN (
         |      SELECT l.dst AS d, sum(x.ev) AS s
         |      FROM ge l JOIN x${k - 1} x ON x.vertex = l.src
         |      GROUP BY l.dst) c ON c.d = v.v) t)""".stripMargin
    }.mkString(",\n")
    s"""$cyclicCte,
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM ge UNION ALL SELECT dst FROM ge) u),
       |x0 AS (SELECT v AS vertex, 1.0 / sqrt((SELECT count(*) FROM verts)) AS ev FROM verts),
       |$steps
       |${finalSelect(s"x$iters")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_eigenvector" -> ((s, dir) =>
      Eigenvector.runFixed(cyclicEdges(s, dir), iters = 8)
        .select(col("vertex"), round(col("ev"), 6).as("ev"))
        .orderBy("vertex")),

    // centrality-value distribution table (A12 parity with lodcc's
    // eigenvector plot, `centrality.py:100-122`)
    "kg_eigenvector_distribution" -> ((s, dir) =>
      Eigenvector.distribution(Eigenvector.runFixed(cyclicEdges(s, dir), iters = 8))
        .orderBy("ev")),

    "kg_clustering" -> ((s, dir) =>
      Triangles.clustering(liEdges(s, dir))
        .select(col("triangle_count"),
          round(col("global_clustering"), 6).as("global_clustering"),
          round(col("local_clustering"), 6).as("local_clustering"))),

    // full per-vertex local-clustering vector (the distribution behind
    // lodcc's vertex_average mean), 4096-row parity
    "kg_local_clustering" -> ((s, dir) =>
      Triangles.perVertex(liEdges(s, dir))
        .select(col("vertex"), col("degree"), col("triangles"),
          round(col("local_clustering"), 6).as("local_clustering"))
        .orderBy("vertex")),
  )

  /** Shared compact-forward triangle CTE chain (simple undirected graph,
    * degree-ordered orientation, triangle list + per-vertex counts). The
    * wedge-closing edge is an inner join on `oriented (lo, hi)`: `simple`
    * holds each unordered pair once, so that key is unique and the join is
    * a semi-join (a correlated EXISTS there exhausts DuckDB's temp space at
    * sf0.1).
    */
  private val triCte: String =
    s"""$edgesCte,
       |simple AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |           FROM edges WHERE src <> dst),
       |sdeg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
       |         FROM (SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) u GROUP BY v),
       |oriented AS (
       |  SELECT CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.a ELSE s.b END AS lo,
       |         CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.b ELSE s.a END AS hi,
       |         CASE WHEN (da.d, s.a) < (db.d, s.b) THEN db.d ELSE da.d END AS dhi
       |  FROM simple s JOIN sdeg da ON da.v = s.a JOIN sdeg db ON db.v = s.b),
       |tri AS (
       |  SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.lo = e2.lo AND (e1.dhi, e1.hi) < (e2.dhi, e2.hi)
       |  JOIN oriented o ON o.lo = e1.hi AND o.hi = e2.hi),
       |pv AS (SELECT vv AS v, CAST(count(*) AS BIGINT) AS t FROM (
       |         SELECT u AS vv FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) q
       |       GROUP BY vv)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "kg_eigenvector" -> eigenvectorSql(8),

    "kg_local_clustering" ->
      s"""$triCte
         |SELECT sd.v AS vertex, sd.d AS degree,
         |       CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles,
         |       CAST(round(CASE WHEN sd.d >= 2
         |         THEN 2.0 * coalesce(pv.t, 0) / (sd.d * (sd.d - 1))
         |         ELSE 0.0 END, 6) AS DOUBLE) AS local_clustering
         |FROM sdeg sd LEFT JOIN pv ON pv.v = sd.v
         |ORDER BY vertex""".stripMargin,

    "kg_eigenvector_distribution" -> eigenvectorSql(8, last =>
      s"""SELECT CAST(round(ev, 6) AS DOUBLE) AS ev, CAST(count(*) AS BIGINT) AS cnt
         |FROM $last GROUP BY 1 ORDER BY 1""".stripMargin),

    "kg_clustering" ->
      s"""$triCte,
         |localstats AS (
         |  SELECT sum(sd.d * (sd.d - 1) / 2) AS triplets,
         |         avg(CASE WHEN sd.d >= 2
         |             THEN 2.0 * coalesce(pv.t, 0) / (sd.d * (sd.d - 1)) ELSE 0.0 END) AS lc
         |  FROM sdeg sd LEFT JOIN pv ON pv.v = sd.v)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM tri) AS triangle_count,
         |       CAST(round(3.0 * (SELECT count(*) FROM tri) / (SELECT triplets FROM localstats), 6) AS DOUBLE) AS global_clustering,
         |       CAST(round((SELECT lc FROM localstats), 6) AS DOUBLE) AS local_clustering""".stripMargin,
  )
}
