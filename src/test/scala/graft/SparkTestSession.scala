package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.start("graft-test", Sessions.base("local[4]", 4))

  /** A child session (same SparkContext, own SQL conf) without AQE or
    * broadcast joins, where one Spark action is one job: AQE runs every
    * shuffle stage as a job of its own, and a broadcast runs one when its
    * plan is prepared. Job-count contracts are stated in this session.
    */
  lazy val oneJobPerAction: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobSitesDuring(body).size

  /** The short call site of each Spark job started while `body` runs, in
    * start order: the one set by the caller, else the name Spark gave the
    * job's result stage (e.g. "parquet at QueryUtil.scala:12").
    */
  def jobSitesDuring(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    scala.jdk.CollectionConverters.IterableHasAsScala(sites).asScala.toSeq
  }
}
