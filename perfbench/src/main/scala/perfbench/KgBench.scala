package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.canon.Canonicalizer
import graft.extract.Extractor
import graft.graph.{Fusion, GraphTables}
import graft.io.{TableIO, Transcripts}

/** The benchmark runner; `run.py` starts it. One JVM runs one workload:
  *
  *  1. set-up: Spark session and the seeded inputs;
  *  2. whole rounds of the workload's operations until `--seconds` have
  *     passed (at least one), each round in a directory of its own;
  *  3. a result file (JSON) with each round's timings and the paths of the
  *     outputs that `checks.py` verifies afterwards.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.KgBench --workload kg_build_daily \
  *   --seed 1 --seconds 1 --trace 0 --work <dir> --data <dir> --result <file>
  * }}}
  */
object KgBench {

  /** Conversations per block; a multiple of 97, so every block holds one of
    * the synthesizer's 64x-turn conversations. */
  val BlockConvs = 97
  /** kg_build_daily: blocks in the built transcripts table, then one block
    * per daily batch. */
  val BuildBlocks = 1
  val DailyBatches = 2
  /** Turns a block must hold, as a share of the expected count, to be used. */
  val TurnTolerance = 0.03
  /** kg_topology: the query list, run in this order on [[TopologyScale]]. */
  val TopologyQueries: Seq[String] = Seq("doc_dedup_clusters")
  val TopologyScale = "sf0.01"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path, result: Path, cores: Int)

  /** One round's outcome: the pass's wall seconds and CPU split, operations
    * attempted and failed, per-layer trace metrics and what the checks need. */
  final case class Round(passS: Double, passCpu: Cpu, attempted: Int, failed: Int,
                         layers: Map[String, Double], extra: Map[String, Any])

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    note("session ready")
    val tr = new Trace(spark, a.trace)
    val wl: Workload = a.workload match {
      case "kg_build_daily" => new KgBuildDaily(spark, tr, a)
      case "kg_topology"    => new KgTopology(spark, tr, a)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    wl.setup()
    tr.take() // set-up is not part of any round's trace
    val setupEndMs = System.currentTimeMillis()
    val setupCpu = Cpu.now()
    note("set-up done")

    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val dir = a.work.resolve(s"round-${rounds.size}")
      Files.createDirectories(dir)
      val r = wl.round(dir)
      // the program leaves cached blocks behind; a later round must not
      // reuse them
      spark.catalog.clearCache()
      rounds += r.copy(layers = Trace.withCpuUtil(r.layers, a.cores) ++ Map(
        "pass.jit_cpu_s" -> r.passCpu.jit, "pass.gc_cpu_s" -> r.passCpu.gc))
      note(f"round ${rounds.size - 1}: pass ${r.passS}%.3f s wall, CPU ${r.passCpu}")
    }
    spark.stop()

    val json = Json.obj(
      "workload" -> a.workload,
      "setup_end_ms" -> setupEndMs, "setup_cpu" -> setupCpu.toMap,
      "rounds" -> rounds.map(r => Map(
        "pass_s" -> r.passS, "pass_cpu" -> r.passCpu.toMap,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "layers" -> r.layers, "extra" -> r.extra)).toSeq,
      "info" -> wl.info)
    Files.writeString(a.result, json)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("data")),
      Paths.get(need("result")), need("cores").toInt)
  }

  // ---------------------------------------------------------------------------

  trait Workload {
    def setup(): Unit
    def round(dir: Path): Round
    def info: Map[String, Any]
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (result, wall seconds, CPU split) of `body`. */
  private def measured[T](body: => T): (T, Double, Cpu) = {
    val c0 = Cpu.now()
    val (r, wall) = seconds(body)
    (r, wall, Cpu.now() - c0)
  }

  /** Seeded conversation blocks. The synthesizer has a fixed seed, so the
    * benchmark's seed picks which conversation ids are built: disjoint
    * blocks of [[BlockConvs]] ids. A block is kept only if its turn count
    * is within [[TurnTolerance]] of the expected count, so every seed
    * builds the same amount of input.
    */
  object Blocks {
    def turns(start: Long): Long =
      (start until start + BlockConvs).map(c => Transcripts.turnsFor(c).toLong).sum

    // 96 conversations of 1..16 turns and one of 64x that
    private val expected = (BlockConvs - 1) * 8.5 + 64 * 8.5

    def pick(seed: Long, count: Int): Seq[Long] = {
      val rnd = new scala.util.Random(seed)
      val used = mutable.LinkedHashSet.empty[Long]
      while (used.size < count) {
        val start = (1L + rnd.nextInt(1 << 24)) * BlockConvs
        if (math.abs(turns(start) - expected) <= TurnTolerance * expected) used += start
      }
      used.toSeq
    }

    /** The transcripts of the given blocks, made with `Transcripts.turn`. */
    def transcripts(spark: SparkSession, starts: Seq[Long]): DataFrame = {
      import spark.implicits._
      spark.range(0, starts.size.toLong * BlockConvs, 1, 32)
        .flatMap { i =>
          val c = starts((i / BlockConvs).toInt) + i % BlockConvs
          (0 until Transcripts.turnsFor(c)).iterator.map(t => Transcripts.turn(c, t))
        }
        .toDF()
    }
  }

  // ---------------------------------------------------------------------------

  /** A full build, then daily increments, on one TableIO root:
    *  1. build: a seeded transcripts table -> committed triples, edges,
    *     vertices, components and measures through `Pipeline.runResumable`;
    *  2. daily: `Pipeline.incrementalBuild` over disjoint seeded batches,
    *     the first bootstrapping the canonical dictionary.
    * A traced round then drops the components and measures snapshots and
    * resumes the build, outside `pass_s` and the other layer metrics.
    */
  final class KgBuildDaily(spark: SparkSession, tr: Trace, a: Args) extends Workload {
    private lazy val blocks = Blocks.pick(a.seed, BuildBlocks + DailyBatches)
    private def buildBlocks = blocks.take(BuildBlocks)
    private def batchBlocks = blocks.drop(BuildBlocks)
    private val n = BuildBlocks * BlockConvs
    private val template = a.work.resolve("input/build")
    private def batchTurns(i: Int) = Blocks.transcripts(spark, Seq(batchBlocks(i)))
    private val tables = Seq("transcripts", "triples", "edges", "vertices", "components", "measures")
    private val recomputed = Seq("components", "measures")

    def setup(): Unit = {
      // runResumable names its transcripts input by size; a committed
      // snapshot under that name is resumed instead of synthesized
      new TableIO(spark, template.toString).commit("transcripts",
        Blocks.transcripts(spark, buildBlocks), "synthesize", s"synthetic-v1-n$n")
      note("inputs written")
    }

    def info: Map[String, Any] = Map("build_conversations" -> n,
      "build_blocks" -> buildBlocks, "batch_blocks" -> batchBlocks,
      "turns" -> blocks.map(Blocks.turns))

    def round(dir: Path): Round = {
      val root = dir.resolve("tables")
      Fs.copyTree(template.resolve("transcripts"), root.resolve("transcripts"))
      val io = new TableIO(spark, root.toString)
      val churn = mutable.ArrayBuffer.empty[Map[String, Any]]
      var failed = 0
      def op[T](what: String)(body: => T): Option[T] =
        if (failed > 0) { failed += 1; None }
        else try Some(body) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $what failed: $e")
            failed += 1
            None
        }

      val (_, buildS, buildCpu) = measured(op("build")(build(io, root)))
      val builtIds = if (failed > 0) Map.empty[String, Long]
        else tables.map(t => t -> io.latest(t).get.id).toMap
      val builtBytes = tables.tail.map(t => Fs.snapshotBytes(root.resolve(t))).sum
      note(f"build $buildS%.3f s")
      val (_, dailyS, dailyCpu) = measured {
        (0 until DailyBatches).foreach { i =>
          op(s"batch $i")(churn += batch(io, batchTurns(i), s"b$i"))
        }
      }
      note(f"daily $dailyS%.3f s")
      var layers = tr.take()
      if (tr.enabled) op("resume") {
        val dropped = dir.resolve("dropped")
        Files.createDirectories(dropped)
        recomputed.foreach(t => Files.move(root.resolve(t), dropped.resolve(t)))
        val (_, resumeS) = seconds(build(io, root))
        tr.take() // the resume is reported on its own
        note(f"resume $resumeS%.3f s")
        layers += "resume.wall_s" -> resumeS
      }
      // the checks compare the committed rows with what each batch extracts
      val extracted = (0 until DailyBatches).map(i =>
        Extractor.triples(batchTurns(i), Some(32)).count())
      val written = builtBytes + Seq("dict", "canon_triples").map(t => Fs.snapshotBytes(root.resolve(t))).sum
      val attempted = 1 + DailyBatches + (if (tr.enabled) 1 else 0)
      Round(buildS + dailyS, buildCpu + dailyCpu, attempted, failed, layers ++ Map(
          "build.wall_s" -> buildS, "daily.wall_s" -> dailyS,
          "io.commit.bytes_mb" -> written / Fs.MB,
          "io.write_amp" -> written.toDouble / Fs.latestDataBytes(root, except = "transcripts"),
          "io.store_mb" -> Fs.size(root) / Fs.MB),
        Map("dir" -> dir.toString, "built_ids" -> builtIds,
          "resumed" -> layers.contains("resume.wall_s"),
          "churn" -> churn.toSeq, "extracted" -> extracted))
    }

    /** `Pipeline.runResumable`, or under tracing the same stage calls with a
      * span around each. `layers.COPIED_BODIES` pins the body copied here. */
    private def build(io: TableIO, root: Path): Unit =
      if (!tr.enabled) Pipeline.runResumable(spark, root.toString, n)
      else {
        val partitions = 32
        def stage(table: String, name: String, input: String, layer: String)
                 (compute: => DataFrame): DataFrame =
          tr.commit(layer)(io.resumeOrCompute(table, name, input)(tr.span(layer)(compute)))
        val turns = io.resumeOrCompute("transcripts", "synthesize", s"synthetic-v1-n$n")(
          throw new IllegalStateException("transcripts snapshot missing"))
        val turnsSnap = s"transcripts@${io.latest("transcripts").get.id}"
        val triples = stage("triples", "extract", turnsSnap, "extract")(
          Extractor.triples(turns, Some(partitions)))
        val triplesSnap = s"triples@${io.latest("triples").get.id}"
        val edges = stage("edges", "materialize", triplesSnap, "graph.materialize")(
          GraphTables.edges(triples))
        stage("vertices", "materialize", triplesSnap, "graph.materialize")(
          GraphTables.vertices(triples))
        val edgesSnap = s"edges@${io.latest("edges").get.id}"
        val cc = stage("components", "analyze", edgesSnap, "algo.cc")(
          graft.algo.ConnectedComponents.run(edges))
        stage("measures", "analyze", edgesSnap, "measures")(
          Pipeline.measures(edges, Pipeline.DefaultFeatures, Some(cc)))
      }

    /** One daily batch; returns its churn row. */
    private def batch(io: TableIO, turns: DataFrame, id: String): Map[String, Any] = {
      val churn =
        if (!tr.enabled) Pipeline.incrementalBuild(io, turns, id)
        else incrementalBuildTraced(io, turns, id)
      val row = tr.span("graph.churn")(churn.collect()).head
      row.getValuesMap[Any](row.schema.fieldNames)
    }

    /** The body of `Pipeline.incrementalBuild`, with a span around each call.
      * `layers.COPIED_BODIES` pins the body copied here. */
    private def incrementalBuildTraced(io: TableIO, newTurns: DataFrame, batchId: String): DataFrame = {
      val triples = tr.span("extract")(Extractor.triples(newTurns, Some(32)))
      val surfaces = triples.select(col("subj").as("surface"))
        .unionByName(triples.select(col("obj").as("surface")))
        .distinct()
      val (canonLayer, newAssign) = io.latest("dict") match {
        case None => "canon.canonicalize" ->
          tr.span("canon.canonicalize")(Canonicalizer.canonicalize(surfaces))
        case Some(_) => "canon.incremental" ->
          tr.span("canon.incremental")(Canonicalizer.incrementalCanonicalize(io.read("dict"), surfaces))
      }
      val dict = io.latest("dict") match {
        case None    => newAssign
        case Some(_) => io.read("dict").unionByName(newAssign)
      }
      tr.commit(canonLayer)(io.commit("dict", dict, "canonicalize", batchId))

      val canon = tr.span("canon.apply")(Canonicalizer.applyTo(triples, io.read("dict"))
        .withColumn("batch", lit(batchId)))
      val prev = io.latest("canon_triples").map(_ => io.read("canon_triples"))
      val all = prev.map(_.unionByName(canon)).getOrElse(canon)
      tr.commit("canon.apply")(io.commit("canon_triples", all, "ingest", batchId))

      def asEdges(t: DataFrame) = t.select(col("subj").as("src"),
        col("pred").as("label"), col("obj").as("dst"))
      val before = prev.map(asEdges).getOrElse(asEdges(canon).limit(0))
      tr.span("graph.churn")(Fusion.edgeChurn(before, asEdges(io.read("canon_triples"))))
    }
  }

  // ---------------------------------------------------------------------------

  /** One pass over [[TopologyQueries]] on the sf0.01 tables; each result is
    * written the way `graft.Verify` writes it, for the DuckDB oracle check. */
  final class KgTopology(spark: SparkSession, tr: Trace, a: Args) extends Workload {
    private val dataDir = a.data.resolve(TopologyScale).toString

    def setup(): Unit = {
      Files.writeString(a.work.resolve("oracle_sql.json"),
        Json.obj(TopologyQueries.map(q => q -> SparkEntry.oracleSql(q)): _*))
    }

    def info: Map[String, Any] = Map("queries" -> TopologyQueries, "scale" -> TopologyScale,
      "oracle_sql" -> a.work.resolve("oracle_sql.json").toString)

    def round(dir: Path): Round = {
      val walls = mutable.LinkedHashMap.empty[String, Double]
      var failed = 0
      val c0 = Cpu.now()
      TopologyQueries.foreach { q =>
        try {
          walls(q) = seconds(tr.span(s"queries.$q")(runQuery(q, dataDir, dir)))._2
          note(f"$q ${walls(q)}%.3f s")
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            failed += 1
        }
      }
      Round(walls.values.sum, Cpu.now() - c0, TopologyQueries.size, failed, tr.take(),
        Map("dir" -> dir.toString, "query_s" -> walls.toMap))
    }

    private def runQuery(q: String, sf: String, out: Path): Unit =
      SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
  }

  // ---------------------------------------------------------------------------

  /** CPU seconds of this JVM, split by who spent them: `jit` is the JIT
    * compiler's threads, `gc` the garbage collector's and the VM thread, and
    * `program` every other thread: the Spark driver, the task threads and
    * Spark's own pools. Differences of two readings give a span's split.
    */
  final case class Cpu(total: Double, jit: Double, gc: Double) {
    def program: Double = total - jit - gc
    def -(o: Cpu): Cpu = Cpu(total - o.total, jit - o.jit, gc - o.gc)
    def +(o: Cpu): Cpu = Cpu(total + o.total, jit + o.jit, gc + o.gc)
    def toMap: Map[String, Double] =
      Map("total_s" -> total, "program_s" -> program, "jit_s" -> jit, "gc_s" -> gc)
    override def toString: String =
      f"$total%.2f s (program $program%.2f, JIT $jit%.2f, GC $gc%.2f)"
  }

  object Cpu {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val TickS = 0.01 // Linux reports thread times in 1/100 s

    /** The JVM's own threads by the name Linux gives them (at most 15
      * characters). They live as long as the JVM: run.py starts it with
      * -XX:-UseDynamicNumberOfCompilerThreads, and ParallelGC keeps its
      * workers. So their CPU time is never lost with an ended thread, as a
      * task thread's is, and the program's share is the process total minus
      * theirs. */
    def kind(comm: String): Option[String] =
      if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
          comm == "Sweeper thread") Some("jit")
      else if (comm.startsWith("GC Thread#") || comm == "VM Thread") Some("gc")
      else None

    /** CPU used so far: the process total from the OS bean, the JVM's own
      * threads from /proc/self/task. */
    def now(): Cpu = {
      val byKind = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).foreach { t =>
        try {
          kind(Files.readString(t.toPath.resolve("comm")).trim).foreach { k =>
            val stat = Files.readString(t.toPath.resolve("stat"))
            // fields after the name: state is 3rd, utime 14th and stime 15th
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            byKind(k) += f(11).toLong + f(12).toLong
          }
        } catch { case _: java.io.IOException => } // the thread has just ended
      }
      Cpu(os.getProcessCpuTime / 1e9, byKind("jit") * TickS, byKind("gc") * TickS)
    }
  }

  // ---------------------------------------------------------------------------

  object Fs {
    val MB: Double = 1024.0 * 1024.0

    def files(p: Path): Seq[Path] =
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
      }

    def size(p: Path): Long = files(p).map(Files.size).sum

    /** Bytes of every snapshot (data and lineage) of one table. */
    def snapshotBytes(table: Path): Long =
      files(table).filter(_.toString.contains("/snap-")).map(Files.size).sum

    /** Bytes of the data of each table's latest snapshot. */
    def latestDataBytes(root: Path, except: String): Long = {
      val tables = Files.list(root)
      try tables.iterator().asScala.filter(t => Files.isDirectory(t) &&
        t.getFileName.toString != except).map { t =>
        val snaps = Files.list(t)
        val last = try snaps.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("snap-")).map(_.stripPrefix("snap-").toLong).maxOption
        finally snaps.close()
        last.map(id => size(t.resolve(s"snap-$id/data"))).getOrElse(0L)
      }.sum finally tables.close()
    }

    def copyTree(from: Path, to: Path): Unit = {
      val s = Files.walk(from)
      try s.iterator().asScala.foreach { src =>
        val dst = to.resolve(from.relativize(src).toString)
        if (Files.isDirectory(src)) Files.createDirectories(dst)
        else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      } finally s.close()
    }
  }

  /** Minimal JSON writer for the result file. */
  object Json {
    def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")

    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
      case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
      case other => str(other.toString)
    }

    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
