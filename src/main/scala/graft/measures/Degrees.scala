package graft.measures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared degree vectors — the "compute once" of lodcc
  * (`degree_based.py:26`). One shuffle on the vertex key; every degree-based
  * measure reuses the result (a caller that reads it in more than one
  * action pins it, see [[graft.Pin]]).
  */
object Degrees {

  /** Per-vertex (out_deg, in_deg, deg) over ALL vertices — vertices that only
    * appear as source have in_deg 0 and vice versa, matching graph-tool's
    * whole-graph degree vectors (`degree_based.py:80-88`).
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("vertex")).agg(count(lit(1)).as("out_deg"))
    val in  = edges.groupBy(col("dst").as("vertex")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("vertex"), "full_outer")
      .select(
        col("vertex"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
  }

  /** Histogram of one degree column: (x, cnt). All distribution measures
    * (gini / h-index / powerlaw / plots) run on this — it has at most
    * |distinct degree values| rows, so it is collected to the driver at any
    * scale (no global sort of the full vertex set, ever).
    */
  def histogram(degrees: DataFrame, column: String): DataFrame =
    degrees.groupBy(col(column).cast("double").as("x")).agg(count(lit(1)).as("cnt"))

  /** The total, in- and out-degree histograms collected in one Spark job,
    * keyed by degree column ("deg", "in_deg", "out_deg"), each (x, cnt)
    * ascending by x; empty when the graph is. Bounded like [[histogram]].
    */
  def histograms(degrees: DataFrame): Map[String, Seq[(Double, Long)]] = {
    val kinds = Seq("deg", "in_deg", "out_deg")
    val rows = degrees
      .select(explode(array(kinds.map(k =>
        struct(lit(k).as("kind"), col(k).cast("double").as("x"))): _*)).as("h"))
      .groupBy(col("h.kind"), col("h.x")).agg(count(lit(1)).as("cnt"))
      .collect()
    kinds.map(k => k -> rows.collect { case r if r.getString(0) == k => (r.getDouble(1), r.getLong(2)) }
      .sortBy(_._1).toSeq).toMap
  }
}
