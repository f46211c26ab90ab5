package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Canonicalizer
import graft.measures.{CoreMeasures, Plots}

/** The one materialization policy ([[Pin]]): a pin is one job that also
  * returns its count, nothing in `src/main` leaves an entry in the
  * CacheManager, and no file but `Pin.scala` checkpoints or caches.
  */
class PinSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("pin: one job, whose observed count and metrics equal separate actions") {
    val s = SparkTestSession.oneJobPerAction
    val df = s.range(0, 1000).toDF("x")
      .groupBy((col("x") % 7).as("k")).agg(count(lit(1)).as("c"))
    var out: (DataFrame, Row) = null
    val jobs = SparkTestSession.jobsDuring { out = Pin.pin(df, Seq(sum("c").as("s"))) }
    assert(jobs == 1)
    val (pinned, m) = out
    assert(m.getLong(0) == df.count() && m.getLong(0) == 7L)
    assert(m.getLong(1) == 1000L)
    assert(pinned.count() == 7L)
    // budgeted: 7 rows fit one partition; None keeps the partitioning
    assert(pinned.rdd.getNumPartitions == 1)
    val kept = Pin.pin(df.repartition(3), budget = None)._1
    assert(kept.rdd.getNumPartitions == 3)
    // an empty frame observes n = 0
    assert(Pin.pin(df.where(lit(false)))._2.getLong(0) == 0L)
  }

  test("canonicalization, diameter, plots and the degree queries leave the CacheManager empty") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // entries other suites of this JVM left behind
    spark.catalog.clearCache()
    assert(cacheManager.isEmpty)

    // the CanonSpec expectations, on the same inputs
    val batch = Canonicalizer.canonicalize(Seq("Margaret Hamilton", "margaret hamilton",
      "MARGARET HAMILTON", "Margaret  Hamilton", "Tyrell Corp", "Tyrell Corporation")
      .toDF("surface"), minJ = 0.4).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(batch("Margaret Hamilton") == batch("MARGARET HAMILTON"))
    assert(batch("Margaret Hamilton") == batch("Margaret  Hamilton"))
    assert(batch("Tyrell Corp") == batch("Tyrell Corporation"))
    assert(batch("Margaret Hamilton") != batch("Tyrell Corp"))

    val prior = Seq(("beta inc", "beta inc"), ("beta, inc", "beta inc"),
      ("alpha corp", "alpha corp")).toDF("surface", "canonical")
    val inc = Canonicalizer.incrementalCanonicalize(prior,
        Seq("Beta Inc", "gamma llc", "gamma-llc", "beta inc").toDF("surface"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inc == Map("Beta Inc" -> "beta inc", "gamma llc" -> "gamma llc",
      "gamma-llc" -> "gamma llc"))

    // a 5-vertex path plus a separate edge: the diameter runs on the path
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("src", "dst")
    val pd = CoreMeasures.pseudoDiameter(edges).head()
    // the directed sweep starts at the max-out-degree vertex (ties to the
    // greatest): d reaches e, and e reaches nothing
    assert(pd.getLong(0) == 1L && pd.getString(1) == "d" && pd.getString(2) == "e")

    val dir = Files.createTempDirectory("graft_pin_plots").toString
    assert(Plots.writeDegreePlots(edges, "pin", dir).size == 3)

    // a 12-row lineitem table: the degree queries read only its 3 key columns
    val sf = Files.createTempDirectory("graft_pin_sf").toString
    (1 to 12).map(i => (i.toLong, (i % 5).toLong, (i % 3).toLong)).toDF("l_orderkey", "l_partkey",
      "l_suppkey").write.parquet(s"$sf/lineitem.parquet")
    Seq("kg_gini", "kg_rdf_out").foreach(q => assert(SparkEntry.queries(q)(spark, sf).count() == 1, q))

    assert(cacheManager.isEmpty)
  }

  test("src/main caches and checkpoints only in Pin.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isRegularFile(root.resolve("graft/Pin.scala")), root.toAbsolutePath)
    val forbidden = """\.cache\(\)|\.persist\(|\.unpersist\(|\.localCheckpoint\(""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && root.relativize(p).toString != "graft/Pin.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if forbidden.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }).toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
