package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.TableIO

class TableIOSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  def freshRoot(): String =
    Files.createTempDirectory("graft-tableio").toString

  test("commit/read/latest round trip with lineage") {
    val root = freshRoot()
    val io = new TableIO(spark, root)
    val df = Seq.tabulate(100)(i => (i.toLong, s"row$i")).toDF("id", "v").repartition(4)
    val snap = io.commit("t1", df, "stage-a", "input@0")
    assert(snap.id == 0 && snap.rowCount == 100)
    assert(io.read("t1").count() == 100)
    val lin = io.readLineage("t1").collect()
    assert(lin.map(_.getAs[Long]("row_count")).sum == 100)
    assert(lin.forall(_.getAs[String]("stage") == "stage-a"))
    assert(lin.forall(_.getAs[String]("input_snapshot") == "input@0"))
    // second commit bumps the snapshot id
    val snap2 = io.commit("t1", df.limit(10), "stage-a", "input@1")
    assert(snap2.id == 1)
    assert(io.read("t1").count() == 10)
  }

  test("resumeOrCompute skips recompute for same input snapshot") {
    val root = freshRoot()
    val io = new TableIO(spark, root)
    var computeCalls = 0
    def compute() = { computeCalls += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    io.resumeOrCompute("t2", "s", "in@0")(compute())
    io.resumeOrCompute("t2", "s", "in@0")(compute())
    assert(computeCalls == 1)
    // new input snapshot -> recompute
    io.resumeOrCompute("t2", "s", "in@1")(compute())
    assert(computeCalls == 2)
  }

  test("resumeOrCompute: wall_ms includes eager work done while building the DataFrame") {
    val io = new TableIO(spark, freshRoot())
    io.resumeOrCompute("slow", "s", "in@0") {
      Thread.sleep(1000) // a checkpoint or count run before the plan is returned
      Seq((1, "a")).toDF("id", "v")
    }
    assert(io.latest("slow").get.wallMs >= 1000)
    assert(io.readLineage("slow").collect().forall(_.getAs[Long]("wall_ms") >= 1000))
  }

  test("footer lineage: empty partitions and zero-row files get no lineage row") {
    import org.apache.spark.sql.functions.{count, input_file_name, lit, regexp_extract}
    val io = new TableIO(spark, freshRoot())
    // rows in partitions 0-2 only; partition 0 empty (Spark still writes it
    // as a 0-row file); no rows at all
    Seq("sparse" -> spark.range(0, 10, 1, 8).where($"id" < 3),
      "first_empty" -> spark.range(0, 10, 1, 8).where($"id" > 6),
      "empty" -> spark.range(0, 10, 1, 8).where($"id" < 0)).foreach { case (t, df) =>
      val snap = io.commit(t, df.toDF(), "s", "in@0")
      val lin = io.readLineage(t).collect()
        .map(r => r.getAs[Int]("partition_id") -> r.getAs[Long]("row_count")).toMap
      val rows = io.read(t).count()
      assert(lin.values.sum == snap.rowCount && snap.rowCount == rows, t)
      // the per-file counts a scan of the written files groups out
      val scanned = io.read(t).groupBy(input_file_name().as("f")).agg(count(lit(1)).as("c"))
        .select(regexp_extract($"f", "part-(\\d+)", 1).cast("int"), $"c")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(lin == scanned, t)
    }
    assert(io.latest("empty").get.rowCount == 0 && io.readLineage("empty").count() == 0)
  }

  test("commit starts at most 2 Spark jobs: the data write and the lineage write") {
    val io = new TableIO(spark, freshRoot())
    val df = spark.range(0, 1000, 1, 4).toDF()
    val jobs = SparkTestSession.jobsDuring(io.commit("jobs", df, "s", "in@0"))
    assert(jobs <= 2, s"commit started $jobs Spark jobs")
  }

  test("resumeOrCompute of a fresh table starts no jobs beyond its commit (no schema inference)") {
    val io = new TableIO(spark, freshRoot())
    val df = spark.range(0, 1000, 1, 4).toDF()
    val commitJobs = SparkTestSession.jobsDuring(io.commit("committed", df, "s", "in@0"))
    val resumeJobs = SparkTestSession.jobsDuring(io.resumeOrCompute("computed", "s", "in@0")(df))
    assert(resumeJobs == commitJobs, s"commit: $commitJobs jobs, resumeOrCompute: $resumeJobs")
  }

  test("resumeOrCompute returns the schema a read of the committed table infers, nullability included") {
    import org.apache.spark.sql.functions.{array, struct}
    val io = new TableIO(spark, freshRoot())
    // non-nullable top-level, array-element and struct-field types
    val df = spark.range(0, 10, 1, 2)
      .select($"id", array($"id", $"id" + 1).as("arr"), struct($"id".as("x")).as("st"))
    assert(!df.schema("id").nullable)
    val fresh = io.resumeOrCompute("t", "s", "in@0")(df)
    val resumed = io.resumeOrCompute("t", "s", "in@0")(df)
    assert(fresh.schema == io.read("t").schema)
    assert(resumed.schema == fresh.schema)
    assert(fresh.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("read and readLineage start no jobs; their schemas equal the inferred ones, nullability included") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{array, struct}
    val root = freshRoot()
    val io = new TableIO(spark, root)
    val df = spark.range(0, 10, 1, 2)
      .select($"id", array($"id", $"id" + 1).as("arr"), struct($"id".as("x")).as("st"))
    io.commit("t", df, "s", "in@0")
    Seq[(String, () => DataFrame)]("data" -> (() => io.read("t")),
        "lineage" -> (() => io.readLineage("t"))).foreach { case (part, read) =>
      var got: DataFrame = null
      assert(SparkTestSession.jobsDuring { got = read() } == 0, part)
      assert(got.schema == spark.read.parquet(s"$root/t/snap-0/$part").schema, part)
      assert(got.count() == (if (part == "data") 10 else 2), part)
    }
  }

  test("orphan snapshot dir (simulated kill) does not corrupt reads") {
    val root = freshRoot()
    val io = new TableIO(spark, root)
    io.commit("t3", Seq((1, "x")).toDF("id", "v"), "s", "in@0")
    // simulate a killed job: data written for snap-1 but manifest never swapped
    Seq((9, "orphan")).toDF("id", "v").write.parquet(s"$root/t3/snap-99/data")
    assert(io.read("t3").collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(io.latest("t3").get.id == 0)
  }

  test("full pipeline resume: second run reuses every snapshot") {
    val root = freshRoot()
    val m1 = graft.Pipeline.runResumable(spark, root, nConvs = 20, partitions = 3)
    val c1 = m1.count()
    val io = new TableIO(spark, root)
    val idsBefore = Seq("transcripts", "triples", "edges", "vertices", "measures")
      .map(t => t -> io.latest(t).get.id)
    val m2 = graft.Pipeline.runResumable(spark, root, nConvs = 20, partitions = 3)
    assert(m2.count() == c1)
    val idsAfter = Seq("transcripts", "triples", "edges", "vertices", "measures")
      .map(t => t -> io.latest(t).get.id)
    assert(idsBefore == idsAfter, "resume must not produce new snapshots")
  }

  test("commitSized: AQE rebalance splits one fat partition to the byte target") {
    import org.apache.spark.sql.functions.{concat, md5}
    val root = freshRoot()
    val io = new TableIO(spark, root)
    // ~100k rows x ~96B of INCOMPRESSIBLE hex in ONE partition (AQE sizes
    // partitions by compressed shuffle bytes, so a repetitive pad would
    // dodge the advisory target); ~512 KB advisory must fan the write out
    val fat = spark.range(100000)
      .select($"id", concat(md5($"id".cast("string")),
        md5(($"id" + 1).cast("string")),
        md5(($"id" + 2).cast("string"))).as("pad"))
      .coalesce(1)
    val snap = io.commitSized("sized", fat, "stage-s", "in@0",
      targetBytes = 512L << 10)
    assert(snap.rowCount == 100000)
    val nParts = io.readLineage("sized").count()
    assert(nParts > 2, s"rebalance produced only $nParts output files")
    assert(io.read("sized").count() == 100000)
  }

  test("bucketed snapshots: same-key join runs with ZERO exchange and same result") {
    val root = freshRoot()
    val io = new TableIO(spark, root)
    val edges = Seq.tabulate(200)(i => (i.toLong % 40, i.toLong % 7, s"e$i"))
      .toDF("src", "dst", "tag").repartition(5)
    val degs = Seq.tabulate(40)(i => (i.toLong, i * 10L)).toDF("src", "deg")
      .repartition(3)
    io.commitBucketed("b_edges", edges, Seq("src"), 8)
    io.commitBucketed("b_degs", degs, Seq("src"), 8)

    val be = io.readBucketed("b_edges")
    val bd = io.readBucketed("b_degs")
    // disable auto-broadcast so the co-location (not a broadcast) is what
    // removes the exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = be.join(bd, "src")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed same-key join must not shuffle:\n" + plan.take(1500))
      // and the result matches the plain (shuffled) join
      val got = j.select("src", "dst", "tag", "deg").collect().toSet
      val want = edges.join(degs, "src")
        .select("src", "dst", "tag", "deg").collect().toSet
      assert(got == want)
      // aggregation on the bucket key is exchange-free too
      val aggPlan = be.groupBy("src").count().queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        "bucketed groupBy(src) must not shuffle:\n" + aggPlan.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("wide stats upsert: row per dataset, ALTER-widening columns, row replace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-tableio").toString
    val io = new TableIO(spark, root)
    def longStats(kv: (String, Double)*) = kv.toSeq.toDF("measure", "value")

    // first dataset creates the table with its measure columns
    graft.Pipeline.upsertStatsWide(io, "stats", "dsA", longStats("m" -> 7.0, "n" -> 3.0))
    val t1 = io.read("stats")
    assert(t1.columns.sorted.toSeq == Seq("dataset", "m", "n"))

    // second dataset ALTER-widens with a new measure column; dsA's new
    // column backfills null (fresh SQL column semantics)
    graft.Pipeline.upsertStatsWide(io, "stats", "dsB", longStats("m" -> 1.0, "h_index" -> 2.0))
    val t2 = io.read("stats")
    assert(t2.columns.sorted.toSeq == Seq("dataset", "h_index", "m", "n"))
    val a2 = t2.where(col("dataset") === "dsA").head()
    assert(a2.getAs[Double]("m") == 7.0 && a2.isNullAt(a2.fieldIndex("h_index")))

    // re-saving a dataset REPLACES its row (upsert, not append)
    graft.Pipeline.upsertStatsWide(io, "stats", "dsA", longStats("m" -> 9.0, "n" -> 4.0))
    val t3 = io.read("stats")
    assert(t3.count() == 2)
    assert(t3.where(col("dataset") === "dsA").head().getAs[Double]("m") == 9.0)
    assert(t3.where(col("dataset") === "dsB").head().getAs[Double]("m") == 1.0)
    assert(io.latest("stats").get.id == 2) // one snapshot per upsert
  }

  test("writeStatsJdbc round-trips against a real JDBC database (embedded Derby)") {
    // VERDICT r4 next #8: the JDBC stats sink was tested-by-contract only
    // because no standalone DB jar ships offline — but Derby DOES ship with
    // Spark (/opt/spark/jars/derby*.jar), so exercise the real driver path:
    // Spark JDBC write (append x2) -> Spark JDBC read -> exact row parity.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftstats;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val s1 = Seq(("dsA", "n", 100.0), ("dsA", "m", 250.0))
      .toDF("dataset", "measure", "value")
    val s2 = Seq(("dsB", "n", 7.0)).toDF("dataset", "measure", "value")
    graft.Pipeline.writeStatsJdbc(s1, url, "graft_stats", props)
    graft.Pipeline.writeStatsJdbc(s2, url, "graft_stats", props) // append semantics
    val back = spark.read.jdbc(url, "graft_stats", props)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq == Seq("dataset", "measure", "value"))
    val rows = back.select(col("dataset"), col("measure"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set(("dsA", "n", 100.0), ("dsA", "m", 250.0), ("dsB", "n", 7.0)))
  }
}
