package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gazetteer+regex mention detection and per-turn triple emission as pure
  * column expressions (whole-stage codegen; no UDFs, no RDDs).
  *
  * Extraction contract (shared with OracleExtractor, the independent
  * test-side implementation used for the P/R >= 0.95 gate):
  *   1. normalize text (lowercase, punctuation/diacritic fold, space collapse)
  *   2. leftmost-longest non-overlapping gazetteer alias matches, in order
  *   3. map surface -> canonical entity id; dedup keeping first occurrence
  *   4. emit, per turn, in this order:
  *      a. (entity, "rdf:type", EntityType)         for each distinct entity
  *      b. (e_i, "d:rel_<t_i>_<t_j>", e_{i+1})      for consecutive entities
  *      c. ("conv:<id>", "d:discusses", e_1)        first entity only
  *      d. ("conv:<id>", "d:used", "tool:<tool>")   when role = tool
  *
  * Reference analog: the N-Triples line scan -> edgelist stage of lodcc
  * (`graph/building/edgelist.py:36-83`) — there the "extractor" is a line
  * splitter; here it is mention detection over transcript turns, but both
  * emit a (subj, pred, obj) stream in a stable per-row order.
  */
object Extractor {

  /** SQL-side normalization — must equal [[TextNorm.normalize]] exactly. */
  def normalizeCol(c: Column): Column =
    trim(regexp_replace(translate(lower(c), "üã", "ua"), "[^a-z0-9]+", " "))

  /** Ordered distinct canonical entity ids mentioned in a text column:
    * the fused single-pass scanner expression (~O(len), codegen-resident;
    * its regex/HOF twin lives with the tests, pinned by ExtractorSpec).
    */
  def mentionIdsFast(text: Column): Column = GazetteerMentions(text)

  /** SFT training-pair extraction from the transcripts table — the
    * instruction-tuning view of the engine's primary input: every
    * assistant turn pairs with the NEAREST PRECEDING user turn of its
    * conversation (tool turns in between are context, never the prompt).
    * One conv-keyed window pass (`last(user text, ignoreNulls)` over the
    * preceding frame — the same single-window shape as Coref.resolve, no
    * join, no explode); both sides gated at `minChars`. Emits
    * (conv_id, turn_idx, prompt, response); an assistant turn with no
    * preceding user turn is dropped.
    */
  def sftPairs(turns: DataFrame, minChars: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .withColumn("__prompt",
        last(when(col("role") === "user", col("text")), ignoreNulls = true).over(w))
      .where(col("role") === "assistant" && col("__prompt").isNotNull &&
        length(col("text")) >= minChars && length(col("__prompt")) >= minChars)
      .select(col("conv_id"), col("turn_idx"),
        col("__prompt").as("prompt"), col("text").as("response"))
  }

  /** turns(conv_id, turn_idx, role, text, tool, ts) ->
    * triples(conv_id, turn_idx, subj, pred, obj), deterministic per-turn order.
    *
    * Repartitioning by hashed conv_id + intra-partition sort pins a stable
    * emission order regardless of input layout (north-rule per-row invariant);
    * skew on hot conv_ids is bounded because extraction is per-row (map-only,
    * no shuffle after the repartition) and AQE handles downstream joins.
    */
  def triples(turns: DataFrame, repartitionBy: Option[Int] = None): DataFrame = {
    val base = repartitionBy match {
      case Some(n) => turns.repartition(n, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")
      case None    => turns
    }
    // fused path: one expression call per turn + one codegen'd explode
    base
      .withColumn("triple", explode(ExtractTriples(
        col("text"), col("conv_id"), col("role"), col("tool"))))
      .select(
        col("conv_id"), col("turn_idx"),
        col("triple.subj").as("subj"),
        col("triple.pred").as("pred"),
        col("triple.obj").as("obj"))
  }
}
