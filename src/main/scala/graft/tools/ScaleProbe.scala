package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Latency-amortization probe (VERDICT r3 next #4).
  *
  * The most expensive gate queries are ITERATIVE (k-core peel, HITS,
  * connected components, pseudo-diameter's CC + double BFS, the LSH -> CC
  * dedup-cluster chain): at sf0.1 their wall time is dominated by per-job
  * scheduling latency (~30 jobs x ~0.2 s), which the plan audit claims
  * amortizes with data volume. This main MEASURES that claim: it runs the
  * iterative subset on the sf0.1-derived inputs and on a deterministic
  * 10x replication of them, and reports the wall-time ratio — amortization
  * holds iff ratio << 10.
  *
  * 10x construction (deterministic, no external data): the lineitem graph
  * is replicated as 10 vertex-disjoint copies (replica r shifts every
  * vertex id by 4096*r), so the ITERATION COUNT of every fixpoint is
  * identical by construction and the measurement isolates how per-iteration
  * job cost scales with 10x rows — the controlled experiment; a 10x organic
  * graph would also change the iteration count (log-scale) and confound
  * the read. The documents table is replicated with shifted doc_ids and
  * IDENTICAL text, which multiplies every duplicate cluster by 10 — the
  * exact stress the signature-collapse guard exists for.
  *
  * Protocol: min of 2 passes per (query, scale), in the Bench session shape
  * ([[graft.Sessions.bench]]) at `SPARK_GRAFT_CPUS` cores.
  */
object ScaleProbe {

  private def session(): SparkSession =
    graft.Sessions.startBench("graft-scale-probe", graft.Sessions.cpus())

  /** 10 vertex-disjoint replicas of the kg gate graph (see
    * [[graft.queries.QueryUtil.liEdges]]: vertex space 4096, 7 labels).
    */
  private def edgesAt(s: SparkSession, dir: String, replicas: Int): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val r = explode(sequence(lit(0), lit(replicas - 1))).as("r")
    li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), r)
      .select(
        concat(lit("v"), (col("l_orderkey") % 4096 + col("r") * 4096).cast("string")).as("src"),
        concat(lit("v"), (col("l_partkey") % 4096 + col("r") * 4096).cast("string")).as("dst"),
        concat(lit("p"), (col("l_suppkey") % 7).cast("string")).as("label"))
  }

  private def docsAt(s: SparkSession, dir: String, replicas: Int): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet")
    val r = explode(sequence(lit(0), lit(replicas - 1))).as("r")
    d.select(col("doc_id"), col("text"), r)
      .select((col("doc_id") + col("r") * 10000000L).as("doc_id"), col("text"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val e1Path = "/tmp/graft-scale-edges-1x"
    val eNPath = s"/tmp/graft-scale-edges-${replicas}x"
    val d1Path = "/tmp/graft-scale-docs-1x"
    val dNPath = s"/tmp/graft-scale-docs-${replicas}x"

    locally { // materialize inputs once (not timed), many-partitioned
      val s = session()
      if (!new java.io.File(e1Path).exists())
        edgesAt(s, sfDir, 1).repartition(32).write.mode("overwrite").parquet(e1Path)
      if (!new java.io.File(eNPath).exists())
        edgesAt(s, sfDir, replicas).repartition(64).write.mode("overwrite").parquet(eNPath)
      if (!new java.io.File(d1Path).exists())
        docsAt(s, sfDir, 1).repartition(32).write.mode("overwrite").parquet(d1Path)
      if (!new java.io.File(dNPath).exists())
        docsAt(s, sfDir, replicas).repartition(64).write.mode("overwrite").parquet(dNPath)
      s.stop()
    }

    val spark = session()
    def edges(path: String) = spark.read.parquet(path)
    def docs(path: String) = spark.read.parquet(path)

    // the doc_dedup_clusters chain: array signatures -> collapsed LSH -> CC
    def dedupClusters(d: DataFrame): Long = {
      val sigs = graft.ops.Dedup.minhashSignatureArrays(d, "doc_id", "text", shingleK = 3)
      val cands = graft.ops.Dedup.minhashLshCandidatesArrays(sigs, rowsPerBand = 2)
      graft.algo.ConnectedComponents.run(
        cands.select(col("a").as("src"), col("b").as("dst"))).count()
    }

    val jobs: Seq[(String, String => Long)] = Seq(
      "kg_kcore" -> (p => graft.algo.KCore.summary(edges(p), k = 20).count()),
      "kg_hits" -> (p => graft.algo.Hits.runFixed(edges(p), iters = 8).count()),
      "kg_cc" -> (p => graft.algo.ConnectedComponents.componentSizes(
        graft.algo.ConnectedComponents.run(edges(p))).count()),
      "kg_pseudo_diameter" -> (p =>
        graft.measures.CoreMeasures.pseudoDiameter(edges(p)).count()))
    val docJobs: Seq[(String, String => Long)] = Seq(
      "doc_dedup_clusters" -> (p => dedupClusters(docs(p))))

    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def run(name: String, f: String => Long, p1: String, pN: String): Unit = {
      val a = math.min(time(f(p1)), time(f(p1)))
      val b = math.min(time(f(pN)), time(f(pN)))
      out += f"""{"query":"$name","secs_1x":$a%.2f,"secs_${replicas}x":$b%.2f,"ratio":${b / a}%.2f}"""
      println(out.last)
    }
    val n1 = edges(e1Path).count(); val nN = edges(eNPath).count()
    println(s"""{"edges_1x":$n1,"edges_${replicas}x":$nN}""")
    jobs.foreach { case (n, f) => run(n, f, e1Path, eNPath) }
    docJobs.foreach { case (n, f) => run(n, f, d1Path, dNPath) }
    println(out.mkString("[", ",", "]"))
    spark.stop()
  }
}
