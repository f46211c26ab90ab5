package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algo.ConnectedComponents
import graft.ops.Dedup

/** The MinHash-LSH -> connected-components chain evaluates its input once
  * per action. The input rows pass through a UDF that counts its calls in
  * an accumulator; the UDF is nondeterministic, so the optimizer neither
  * pushes the short-document filter below it nor inlines it twice: one
  * pass over the input is one call per row.
  */
class SinglePassSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** A counting identity UDF, and the calls it got while a body runs
    * (plan construction included). */
  private def counter(): (UserDefinedFunction, (=> Any) => Long) = {
    val acc = spark.sparkContext.longAccumulator("SinglePassSpec reads")
    (udf((s: String) => { acc.add(1); s }).asNondeterministic(),
      body => { acc.reset(); body; acc.value })
  }

  /** A parquet table, as the queries read: a local relation would be
    * evaluated by the optimizer instead of by a job. */
  private def parquet(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_single_pass").resolve("t.parquet").toString
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  test("LSH candidates and CC over them run the signature pass once") {
    // five texts, each with exact duplicates (identical-signature groups to
    // collapse) and near-duplicates that differ in one trailing token
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a stitch in time saves nine stitches today", "all that glitters is not gold they say",
      "to be or not to be that is the question", "one two three four five six seven")
    val raw = parquet((0 until 40).map(i =>
      (i.toLong, texts(i % 5) + (if (i % 3 == 0) "" else s" tail$i"))).toDF("doc_id", "text"))
    val (counted, reads) = counter()
    val docs = raw.select(col("doc_id"), counted(col("text")).as("text")).repartition(4)
    val sigs = Dedup.minhashSignatureArrays(docs, "doc_id", "text", shingleK = 3)
    val e1 = reads(sigs.count())
    assert(e1 == 40)
    val cands = Dedup.minhashLshCandidatesArrays(sigs, rowsPerBand = 2)
    assert(reads(cands.count()) == e1)
    assert(reads(ConnectedComponents.run(
      cands.select(col("a").as("src"), col("b").as("dst"))).count()) == e1)
  }

  test("CC reads its edge input in one job, on both vertex-id paths") {
    // string ids: the default iterates them as they are; encodeMinVertices = 0
    // takes the hash-encoded path. A self-loop-only vertex and a null
    // endpoint each stay in the output as their own component.
    val raw = parquet(spark.range(0, 60).select(
      concat(lit("v"), (col("id") % 17).cast("string")).as("src"),
      concat(lit("v"), ((col("id") * 7) % 23).cast("string")).as("dst"))
      .union(Seq[(String, String)](("loop", "loop"), (null, "v0")).toDF("src", "dst")))
    val (counted, reads) = counter()
    val edges = raw.select(counted(col("src")).as("src"), col("dst"))
    Seq(500000L, 0L).foreach { enc =>
      var out = Array.empty[(String, String)]
      assert(reads {
        out = ConnectedComponents.run(edges, encodeMinVertices = enc).as[(String, String)].collect()
      } == 62, enc)
      assert(out.length == 25, enc)
      assert(out.contains(("loop", "loop")) && out.contains((null, null)), enc)
    }
  }
}
