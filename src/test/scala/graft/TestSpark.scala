package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (sessions are
  * expensive; every suite reuses this). Built through GraftSession so tests
  * run under exactly the configs the driver entry points use. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
  val Sf0001 = "/root/testdata/sf0.001"

  /** Runs `f` under another broadcast threshold, which moves every
    * size switch keyed on it (connectedComponents' local-finish bound,
    * q03's broadcast hint); "-1" forces the distributed route. */
  def withBroadcastThreshold[T](value: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs `f` starts on this thread, counted by a SparkListener on the
    * job group. The listener bus is asynchronous but ordered, so once a
    * marker job run after `f` has been seen, every job of `f` has been
    * counted. */
  def jobsStartedBy(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("jobs-started-by") => jobs.incrementAndGet(); ()
          case Some("jobs-started-by-marker") => marked.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-started-by", "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("jobs-started-by-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Root paths of every parquet scan in the queries `f` runs, from a
    * QueryExecutionListener; drained like [[jobsStartedBy]], since the
    * listener's events ride the same ordered queue as the marker job. */
  def pathsScannedBy(f: => Any): Set[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths.foreach(p => paths.add(p.toString))
          case _ =>
        }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { jobsStartedBy(f); () }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    paths.asScala.toSet
  }
}
