package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.Bridge

import graft.{Sessions, SparkEntry}

/** Dev tool: time named gate queries over the tables in `SPARK_GRAFT_SF_DIR`,
  * in the Bench session shape ([[graft.Sessions.bench]]) at
  * `SPARK_GRAFT_CPUS` cores. Each query runs twice and prints one JSON line:
  *
  * {{{ {"query":…,"pos":…,"pass1":…,"pass2":…,"min2":…,"jobs":…,"exchanges":…} }}}
  *
  *  - `pos`: the query's 1-based position in this JVM. Only the first
  *    query's pass1 is cold; later ones start on a warm JIT and warm caches.
  *  - `jobs`: Spark jobs started by pass1.
  *  - `exchanges`: Exchange nodes in the query's physical plan, subqueries
  *    included.
  *  - A pass still running after `SPARK_GRAFT_QUERY_TIMEOUT_S` (900 s) is
  *    cancelled and reads -1.
  *
  * `--stages` adds pass1's stage table, `--plan` the formatted plan.
  *
  * {{{ SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.tools.Probe [--stages] [--plan] <query>... | ALL" }}}
  */
object Probe {

  private final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
                                 tasks: Int, srMB: Double, swMB: Double, srRec: Long,
                                 swRec: Long, inRec: Long, spillMB: Double)

  /** Jobs started and stages completed since the last [[take]]. */
  private class Recorder extends SparkListener {
    private var jobs = 0
    private val stages = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
      val st = Stage(si.stageId, si.name.takeWhile(_ != '('), wall, m.executorRunTime,
        si.numTasks, m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.recordsWritten, m.inputMetrics.recordsRead,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      synchronized { stages += st }
    }

    def take(): (Int, Seq[Stage]) = synchronized {
      val out = (jobs, stages.toVector)
      jobs = 0
      stages.clear()
      out
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def exchanges(df: DataFrame): Int =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size

  private val position = new java.util.concurrent.atomic.AtomicInteger(0)

  private def stageTable(stages: Seq[Stage]): Seq[String] = {
    val sorted = stages.sortBy(-_.wallMs)
    val header = f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%5s ${"sr_MB"}%8s " +
      f"${"sw_MB"}%8s ${"sr_rec"}%10s ${"sw_rec"}%10s ${"in_rec"}%10s ${"spill"}%6s  name"
    val rows = sorted.take(40).map(s =>
      f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%5d ${s.srMB}%8.1f ${s.swMB}%8.1f " +
        f"${s.srRec}%10d ${s.swRec}%10d ${s.inRec}%10d ${s.spillMB}%6.1f  ${s.name}")
    val total = f"[sum stage wall: ${sorted.map(_.wallMs).sum / 1000.0}%.2f s over ${stages.size} stages]"
    header +: rows :+ total
  }

  /** Probes each of `names` on `spark`, writing its JSON line (and, on
    * request, its stage table and formatted plan) to `out`.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], stages: Boolean = false,
          plan: Boolean = false, timeoutSec: Long = 900, out: String => Unit = println): Unit = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try names.foreach { n =>
      val pos = position.incrementAndGet()
      def pass(i: Int): (Double, Option[DataFrame], Int, Seq[Stage]) = {
        val t0 = System.nanoTime()
        val df = Sessions.withDeadline(spark, s"$n#$i", timeoutSec) {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.count()
          df
        }
        val secs = if (df.isEmpty) -1.0 else (System.nanoTime() - t0) / 1e9
        Bridge.drainListenerBus(sc)
        val (jobs, st) = rec.take()
        (secs, df, jobs, st)
      }
      val (a, df, jobs, st) = pass(1)
      val (b, _, _, _) = pass(2)
      val min2 = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      out(f"""{"query":"$n","pos":$pos,"pass1":$a%.2f,"pass2":$b%.2f,"min2":$min2%.2f,""" +
        s""""jobs":$jobs,"exchanges":${df.fold(-1)(exchanges)}}""")
      if (stages) { out(s"==== $n: stages of pass1 ===="); stageTable(st).foreach(out) }
      if (plan) df.foreach { d =>
        out(s"==== $n: plan ====")
        out(d.queryExecution.explainString(FormattedMode))
      }
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    val (flags, queries) = args.toSeq.partition(_.startsWith("--"))
    val usage = "usage: Probe [--stages] [--plan] <query>... | ALL"
    require(queries.nonEmpty && flags.forall(Set("--stages", "--plan")), usage)
    val names = if (queries == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted else queries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the directory of the query tables"))
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "900").toLong
    val spark = Sessions.startBench("graft-probe", Sessions.cpus())
    try run(spark, sfDir, names, flags.contains("--stages"), flags.contains("--plan"), timeoutSec)
    finally spark.stop()
  }
}
