package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.extract.{Extractor, Gazetteer}
import graft.ops.{Dedup, TextOps}
import graft.ops.Similarity.toDoubleVec

/** Composed-operator twins of the native kernels: the same results from
  * plain column expressions, each pinned equal to its kernel by a
  * cross-check spec (ExtractorSpec, OpsSpec).
  */
object Twins {

  private val aliasIdMap: Column = typedlit(Gazetteer.aliasToId)

  private val idTypeMap: Column =
    typedlit(Gazetteer.byId.map { case (id, e) => id -> e.etype })

  /** Ordered distinct canonical entity ids mentioned in a text column, via
    * regex + map lookup — twin of [[Extractor.mentionIdsFast]].
    */
  def mentionIds(text: Column): Column =
    array_distinct(transform(
      regexp_extract_all(Extractor.normalizeCol(text), lit(Gazetteer.pattern), lit(1)),
      m => element_at(aliasIdMap, m)))

  /** Regex + HOF twin of [[Extractor.triples]]. */
  def triplesComposed(turns: DataFrame, repartitionBy: Option[Int] = None): DataFrame = {
    val base = repartitionBy match {
      case Some(n) => turns.repartition(n, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")
      case None    => turns
    }
    val ents = mentionIds(col("text"))

    val withEnts = base.withColumn("ents", ents)

    val typeTriples = transform(col("ents"), e =>
      struct(e.as("subj"), lit("rdf:type").as("pred"), element_at(idTypeMap, e).as("obj")))

    val k = size(col("ents"))
    val relTriples = zip_with(
      slice(col("ents"), lit(1), greatest(k - 1, lit(0))),
      slice(col("ents"), lit(2), greatest(k - 1, lit(0))),
      (a, b) => struct(
        a.as("subj"),
        concat(lit("d:rel_"), lower(element_at(idTypeMap, a)), lit("_"), lower(element_at(idTypeMap, b))).as("pred"),
        b.as("obj")))

    val discusses = when(k > 0,
      array(struct(
        concat(lit("conv:"), col("conv_id")).as("subj"),
        lit("d:discusses").as("pred"),
        element_at(col("ents"), 1).as("obj"))))
      .otherwise(array().cast("array<struct<subj:string,pred:string,obj:string>>"))

    val used = when(col("role") === "tool" && col("tool") =!= "",
      array(struct(
        concat(lit("conv:"), col("conv_id")).as("subj"),
        lit("d:used").as("pred"),
        concat(lit("tool:"), col("tool")).as("obj"))))
      .otherwise(array().cast("array<struct<subj:string,pred:string,obj:string>>"))

    withEnts
      .withColumn("triple", explode(concat(typeTriples, relTriples, discusses, used)))
      .select(
        col("conv_id"), col("turn_idx"),
        col("triple.subj").as("subj"),
        col("triple.pred").as("pred"),
        col("triple.obj").as("obj"))
  }

  /** Explode/groupBy twin of [[TextOps.simhash]]. */
  def simhashComposed(docs: DataFrame, idCol: String, textCol: String,
                      bits: Int = 60): DataFrame = {
    import TextOps.{portableHash31, portableHash64, tokens}
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("h",
        if (bits <= 31) portableHash31(col("tok")) else portableHash64(col("tok")))
    val bcols = toks.select(col(idCol), col("h"),
      explode(sequence(lit(0), lit(bits - 1))).as("j"))
      .withColumn("contrib", expr("(shiftright(h, j) & 1) * 2 - 1"))
    bcols.groupBy(idCol, "j").agg(sum("contrib").as("s"))
      .withColumn("bit",
        when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L)))
      .groupBy(idCol).agg(sum("bit").as("simhash"))
  }

  /** Shingle-crossJoin-groupBy twin of [[Dedup.minhashSignatureArrays]],
    * in the exploded (id, i, mh) shape. */
  def minhashSignaturesComposed(docs: DataFrame, idCol: String, textCol: String,
                                shingleK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = TextOps.shingles(docs, idCol, textCol, shingleK)
      .select(col(idCol).as("id"), TextOps.portableHash31(col("shingle")).as("h"))
      .distinct()
    val coeffs = Dedup.MinhashCoeffs.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
    sh.crossJoin(broadcast(coeffs))
      .withColumn("hv", (col("a") * col("h") + col("b")) % Dedup.MinhashPrime)
      .groupBy("id", "i").agg(min("hv").as("mh"))
  }

  /** Higher-order-function twin of [[graft.ops.Similarity.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Deterministic integer hyperplane weight for (plane p, dim d):
    * ((p*37 + d*11) mod 13) - 6 in [-6, 6], as in the native kernel.
    */
  def planeWeight(p: Column, d: Column): Column =
    ((p * 37 + d * 11) % 13 - 6).cast("double")

  /** Explode/HOF/groupBy twin of [[graft.ops.Similarity.lshBucket]]. */
  def lshBucketComposed(embs: DataFrame, idCol: String, vecCol: String, planes: Int): DataFrame = {
    val e = embs.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val withPlane = e.select(col("id"), col("v"),
      explode(sequence(lit(0), lit(planes - 1))).as("p"))
    val dotted = withPlane.withColumn("dp",
      aggregate(
        zip_with(col("v"), sequence(lit(0), size(col("v")) - 1),
          (x, d) => x * planeWeight(col("p"), d)),
        lit(0.0), (acc, x) => acc + x))
    dotted
      .withColumn("bit",
        when(col("dp") > 0, expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(lit(0L)))
      .groupBy("id").agg(sum("bit").as("bucket"))
  }
}
