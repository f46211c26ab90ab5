package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf-multiplier for the driver testdata (VERDICT r4 next #6).
  *
  * Synthesizes an sf1-shaped dataset from sf0.1 by replicating every fact
  * table `replicas`× with all integer keys strided by 10^6 per replica
  * (consistently across fk columns, so orders still join customers etc.),
  * keeping the fixed-size dimension tables (region, nation) as-is — the
  * TPC-H scaling convention. Unlike [[ScaleProbe]]'s controlled
  * vertex-disjoint copies (which pin iteration counts), this is the
  * ORGANIC volume path: modular vertex spaces densify, duplicate clusters
  * keep their within-replica structure (replica r>0 document text gets a
  * per-replica suffix so the global dup FRACTION is preserved instead of
  * ×10'd), and embeddings get a tiny deterministic per-replica
  * perturbation so ANN surfaces grow rather than degenerate into exact
  * twins. No external data; everything derives from the driver's parquet.
  *
  * Output layout matches the driver's (`<dst>/<table>.parquet` as a single
  * FILE, renamed from the coalesced part), so `graft.Verify` +
  * `scripts/check_oracle.py` run unchanged against it.
  */
object MakeSf {

  private val Stride = 1000000L

  private def withReplicas(df: DataFrame, replicas: Int): DataFrame =
    df.withColumn("r", explode(sequence(lit(0), lit(replicas - 1))))

  /** Re-impose the source schema's exact field types after key arithmetic. */
  private def castLike(out: DataFrame, src: DataFrame): DataFrame =
    out.select(src.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)

  def scaled(s: SparkSession, srcDir: String, table: String, replicas: Int): DataFrame = {
    val src = s.read.parquet(s"$srcDir/$table.parquet")
    def strided(keys: String*): DataFrame = {
      val rep = withReplicas(src, replicas)
      castLike(keys.foldLeft(rep)((d, k) =>
        d.withColumn(k, col(k) + col("r") * Stride)), src)
    }
    val out = table match {
      case "region" | "nation" => src // fixed-size dims
      case "customer" => strided("c_custkey")
      case "supplier" => strided("s_suppkey")
      case "part"     => strided("p_partkey")
      case "orders"   => strided("o_orderkey", "o_custkey")
      case "lineitem" => strided("l_orderkey", "l_partkey", "l_suppkey")
      case "events"   => strided("event_id", "user_id")
      case "documents" =>
        // replica 0 is the original corpus; each r>0 replica keeps its
        // WITHIN-replica duplicate clusters intact (same suffix on every
        // doc) but is distinct from other replicas -> dup fraction at sf1
        // equals sf0.1's, not 10x it
        val rep = withReplicas(src, replicas)
          .withColumn("doc_id", col("doc_id") + col("r") * Stride)
          .withColumn("text",
            when(col("r") === 0, col("text"))
              .otherwise(concat(col("text"), lit(" ~repl"), col("r"))))
          .withColumn("n_chars", length(col("text")).cast("long"))
        castLike(rep, src)
      case "embeddings" =>
        val rep = withReplicas(src, replicas)
          .withColumn("vec_id", col("vec_id") + col("r") * Stride)
          .withColumn("embedding", expr(
            "transform(embedding, (x, i) -> CASE WHEN i = 0 " +
              "THEN cast(x + r * cast(0.001 as float) as float) ELSE x END)"))
        castLike(rep, src)
      case other => sys.error(s"unknown table $other")
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dstDir = if (args.length > 1) args(1) else "/tmp/graft-testdata/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val s = graft.Sessions.start("graft-make-sf", graft.Sessions.base("local[32]", 32))
    new java.io.File(dstDir).mkdirs()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val df = scaled(s, srcDir, t, replicas)
      val tmp = s"$dstDir/.tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $t"))
      val dst = new java.io.File(s"$dstDir/$t.parquet")
      if (dst.exists()) dst.delete()
      require(part.renameTo(dst), s"rename failed for $t")
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"$t: ${s.read.parquet(dst.getPath).count()} rows")
    }
    s.stop()
  }
}
