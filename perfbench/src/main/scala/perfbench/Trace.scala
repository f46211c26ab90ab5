package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Per-layer tracing, recorded from outside the program.
  *
  * The benchmark opens a span around each call into a module. A span sets
  * the Spark job group, so every job the call starts is tagged with it,
  * including jobs that kernels start while their plan is still being built.
  * A listener adds up, per job, task CPU, shuffle bytes written and bytes
  * spilled to disk.
  *
  * Attribution rules:
  *  - a job counts toward the span that started it;
  *  - a job whose driver call stack passes through one of [[Kernels]] also
  *    counts toward that kernel's layer (the innermost one on the stack).
  *    For a SQL job the stack is that of the action that started its SQL
  *    execution;
  *  - an `io.commit` span names the layer whose DataFrame it writes: the
  *    commit's first SQL execution (the data write, which runs that layer's
  *    plan) counts toward that layer, the rest of the commit toward
  *    `io.commit`.
  *
  * A span's wall time is its own duration minus its child spans; a kernel
  * layer reached through the call stack gets the union of its jobs' run
  * intervals (AQE runs a query's stage jobs at the same time, so their
  * durations overlap). When disabled, `span` only runs its body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext

  private final class Span(val id: Int, val name: String, val owner: Option[String],
                           val parent: Option[Int], val start: Long) {
    var end: Long = -1L
  }
  private final class Job(val span: Int, val exec: Long, val kernel: Option[String],
                          val start: Long) {
    var end: Long = start
    var cpuNs: Long = 0L
    var shuffleBytes: Long = 0L
    var spillBytes: Long = 0L
  }

  private val lock = new Object
  private val spans = mutable.LinkedHashMap.empty[Int, Span]
  private var stack: List[Span] = Nil
  private var nextSpan = 0

  // written by the listener thread, read after draining the bus
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val execEnd = mutable.HashMap.empty[Long, Long]
  private val execKernel = mutable.HashMap.empty[Long, Option[String]]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = e.properties
      val group = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      val span = group.flatMap(g => g.drop(g.lastIndexOf('#') + 1).toIntOption).getOrElse(-1)
      val exec = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      // AQE submits a query's jobs from a pool thread, so the stage call
      // site of a SQL job lacks the caller; its execution's call site has it
      val kernel = execKernel.getOrElse(exec,
        e.stageInfos.iterator.flatMap(s => kernelOf(s.details)).nextOption())
      jobs(e.jobId) = new Job(span, exec, kernel, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execStart(s.executionId) = s.time
        execKernel(s.executionId) = kernelOf(s.details)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized(execEnd(s.executionId) = s.time)
      case _ =>
    }
  })

  def span[T](name: String, owner: Option[String] = None)(body: => T): T =
    if (!enabled) body
    else {
      nextSpan += 1
      val s = new Span(nextSpan, name, owner, stack.headOption.map(_.id), System.nanoTime())
      stack = s :: stack
      sc.setJobGroup(s"$name#${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        spans(s.id) = s
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"${p.name}#${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A TableIO commit whose data write runs `owner`'s plan. */
  def commit[T](owner: String)(body: => T): T = span("io.commit", Some(owner))(body)

  /** Per-layer metrics of everything traced since the last call, then
    * forgets it. Keys are `<layer>.<metric>`; see [[Trace.withCpuUtil]].
    */
  def take(): Map[String, Double] = {
    if (!enabled) return Map.empty
    ListenerBusDrain(sc)
    val out = lock.synchronized {
      val wall = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      val acc = mutable.HashMap.empty[String, Array[Double]]
      def add(layer: String, j: Job): Unit = {
        val a = acc.getOrElseUpdate(layer, Array(0.0, 0.0, 0.0, 0.0))
        a(0) += j.cpuNs / 1e9; a(1) += j.shuffleBytes / MB; a(2) += j.spillBytes / MB; a(3) += 1
      }
      // the first SQL execution inside each io.commit span is its data write
      val firstExec = jobs.values.filter(j => j.exec >= 0 && spans.get(j.span)
        .exists(_.owner.nonEmpty)).groupBy(_.span).map { case (s, js) => s -> js.map(_.exec).min }
      val childWall = spans.values.groupBy(_.parent).collect {
        case (Some(p), cs) => p -> cs.map(c => c.end - c.start).sum / 1e9
      }
      spans.values.foreach { s =>
        var self = (s.end - s.start) / 1e9 - childWall.getOrElse(s.id, 0.0)
        for (o <- s.owner; e <- firstExec.get(s.id); a <- execStart.get(e); b <- execEnd.get(e)) {
          val moved = math.min(self, (b - a) / 1e3)
          wall(o) += moved
          self -= moved
        }
        wall(s.name) += self
      }
      val kernelRuns = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
      jobs.values.foreach { j =>
        val layer = spans.get(j.span).map { s =>
          if (s.owner.nonEmpty && firstExec.get(s.id).contains(j.exec)) s.owner.get else s.name
        }.getOrElse("unattributed")
        add(layer, j)
        j.kernel.filter(_ != layer).foreach { k =>
          add(k, j)
          kernelRuns.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (j.start -> j.end)
        }
      }
      kernelRuns.foreach { case (k, runs) => wall(k) += unionMs(runs.toSeq) / 1e3 }
      (wall.keySet ++ acc.keySet).toSeq.flatMap { l =>
        val a = acc.getOrElse(l, Array(0.0, 0.0, 0.0, 0.0))
        val w = wall(l)
        Seq(s"$l.wall_s" -> w, s"$l.task_cpu_s" -> a(0), s"$l.shuffle_mb" -> a(1),
          s"$l.spill_mb" -> a(2), s"$l.jobs" -> a(3))
      }.toMap
    }
    lock.synchronized {
      jobs.clear(); stageJob.clear(); execStart.clear(); execEnd.clear(); execKernel.clear()
    }
    spans.clear()
    out
  }
}

object Trace {
  private val MB = 1024.0 * 1024.0

  /** Kernel layers recognised on a job's driver call stack. */
  val Kernels: Seq[(String, String)] = Seq(
    "graft.algo.ConnectedComponents" -> "algo.cc",
    "graft.algo.PageRank" -> "algo.pagerank",
    "graft.algo.Bfs" -> "algo.bfs")

  /** Length of the union of [start, end) intervals. */
  def unionMs(runs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    runs.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** Adds `<layer>.cpu_util`: task CPU over wall time times cores. */
  def withCpuUtil(m: Map[String, Double], cores: Int): Map[String, Double] =
    m ++ m.keys.filter(_.endsWith(".task_cpu_s")).map(_.stripSuffix(".task_cpu_s")).flatMap { l =>
      m.get(s"$l.wall_s").filter(_ > 0).map(w => s"$l.cpu_util" -> m(s"$l.task_cpu_s") / (w * cores))
    }

  /** The innermost kernel in a call site's long form (innermost frame first). */
  def kernelOf(callSite: String): Option[String] =
    callSite.linesIterator.flatMap(line =>
      Kernels.collectFirst { case (cls, layer) if line.contains(cls) => layer }).nextOption()
}
