package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Extractor, Gazetteer, OracleExtractor, TextNorm}
import graft.io.{Transcripts, Triple}

/** The P/R >= 0.95 parity gate (BASELINE.json): Spark extractor vs the
  * independent scalar oracle, on the deterministic synthetic transcripts.
  */
class ExtractorSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("gazetteer sanity: no normalized alias maps to two entities") {
    val all = for { e <- Gazetteer.entities; a <- e.aliases } yield (TextNorm.normalize(a), e.id)
    val conflicts = all.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
    assert(conflicts.isEmpty, conflicts.toString)
  }

  test("normalization parity: SQL normalizeCol == TextNorm.normalize") {
    val samples = Seq(
      "Hey, can you tell me about Tim Berners-Lee?",
      "Zürich and São Paulo!!", "  spaces   and\ttabs ", "UPPER lower 123",
      "", "...", "a")
    val got = samples.toDF("text")
      .select(Extractor.normalizeCol(org.apache.spark.sql.functions.col("text")))
      .collect().map(_.getString(0))
    assert(got.toSeq == samples.map(TextNorm.normalize))
  }

  test("sftPairs: nearest preceding user prompt, tool turns skipped, gates bind") {
    import java.sql.Timestamp
    def t(i: Int) = new Timestamp(1000L * i)
    val turns = Seq(
      ("c1", 0, "assistant", "orphan greeting", "", t(0)), // no prior user
      ("c1", 1, "user", "first question", "", t(1)),
      ("c1", 2, "assistant", "first answer", "", t(2)),
      ("c1", 3, "tool", "tool output", "search", t(3)),
      ("c1", 4, "assistant", "post-tool answer", "", t(4)), // same prompt
      ("c1", 5, "user", "second question", "", t(5)),
      ("c1", 6, "assistant", "ok", "", t(6)), // fails minChars=3
      ("c2", 0, "user", "other conv", "", t(7)),
      ("c2", 1, "assistant", "other answer", "", t(8)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val got = Extractor.sftPairs(turns, minChars = 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3))).toMap
    assert(got == Map(
      ("c1", 2) -> ("first question", "first answer"),
      ("c1", 4) -> ("first question", "post-tool answer"),
      ("c2", 1) -> ("other conv", "other answer")))
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val ds = Transcripts.generate(spark, nConvs = 120, partitions = 7)
    val rows = ds.orderBy("conv_id", "turn_idx").collect()
    rows.foreach { t =>
      val conv = t.conv_id.stripPrefix("conv-").toLong
      val expect = Transcripts.turn(conv, t.turn_idx)
      assert(t == expect, s"row mismatch at ${t.conv_id}/${t.turn_idx}")
    }
    // dense turn indexes per conversation
    val perConv = rows.groupBy(_.conv_id)
    perConv.foreach { case (_, ts) =>
      assert(ts.map(_.turn_idx).sorted.toSeq == (0 until ts.length))
    }
  }

  test("three-way mention parity: regex path == scanner expression == oracle") {
    val ds = Transcripts.generate(spark, nConvs = 80, partitions = 4).cache()
    val both = ds.toDF().select(
      org.apache.spark.sql.functions.col("text"),
      Twins.mentionIds(org.apache.spark.sql.functions.col("text")).as("slow"),
      Extractor.mentionIdsFast(org.apache.spark.sql.functions.col("text")).as("fast"))
      .collect()
    both.foreach { r =>
      val slow = r.getSeq[String](1)
      val fast = r.getSeq[String](2)
      assert(slow == fast, s"mismatch on '${r.getString(0)}': $slow vs $fast")
      assert(fast == OracleExtractor.mentions(r.getString(0)),
        s"oracle mismatch on '${r.getString(0)}'")
    }
    // plus adversarial fragments
    val tricky = Seq(
      "", ".", "Ada", "Ada Lovelace", "ada-LOVELACE!!", "Grace M Hopper visits Zürich",
      "TURING, Alan met A. Turing and Alan Turing", "k johnson thompson",
      "web_search web-search Web Search", "Tyrell Corporation vs Tyrell Corp",
      "NEW YORK new york New-York", "sao paulo São Paulo")
    val out = tricky.toDF("text").select(
      org.apache.spark.sql.functions.col("text"),
      Twins.mentionIds(org.apache.spark.sql.functions.col("text")).as("slow"),
      Extractor.mentionIdsFast(org.apache.spark.sql.functions.col("text")).as("fast"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"tricky mismatch on '${r.getString(0)}'")
      assert(r.getSeq[String](2) == OracleExtractor.mentions(r.getString(0)))
    }
  }

  test("triple parity: P and R >= 0.95 (exact match expected) vs oracle") {
    val ds = Transcripts.generate(spark, nConvs = 150, partitions = 5).cache()
    val got: Set[Triple] =
      Extractor.triples(ds.toDF(), repartitionBy = Some(4)).as[Triple].collect().toSet
    val want: Set[Triple] = ds.collect().flatMap(OracleExtractor.turnTriples).toSet
    val tp = (got intersect want).size.toDouble
    val precision = tp / got.size
    val recall = tp / want.size
    assert(precision >= 0.95, s"precision $precision")
    assert(recall >= 0.95, s"recall $recall")
    assert(got == want, "expected exact parity between extractor and oracle")
  }

  test("fused ExtractTriples == composed column pipeline, row for row") {
    val ds = Transcripts.generate(spark, nConvs = 60, partitions = 4).cache()
    val fused = Extractor.triples(ds.toDF(), Some(3)).as[Triple].collect()
      .groupBy(t => (t.conv_id, t.turn_idx)).map { case (k, v) => k -> v.toSeq }
    val composed = Twins.triplesComposed(ds.toDF(), Some(3)).as[Triple].collect()
      .groupBy(t => (t.conv_id, t.turn_idx)).map { case (k, v) => k -> v.toSeq }
    assert(fused == composed)
  }

  test("extraction emits deterministic per-turn triple order") {
    val ds = Transcripts.generate(spark, nConvs = 30, partitions = 3).cache()
    val a = Extractor.triples(ds.toDF(), Some(3)).as[Triple].collect()
      .groupBy(t => (t.conv_id, t.turn_idx)).map { case (k, v) => k -> v.toSeq }
    ds.collect().foreach { t =>
      val want = OracleExtractor.turnTriples(t)
      val gotSeq = a.getOrElse((t.conv_id, t.turn_idx), Seq.empty)
      assert(gotSeq == want, s"order mismatch at ${t.conv_id}/${t.turn_idx}")
    }
  }
}
