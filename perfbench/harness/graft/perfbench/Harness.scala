package graft.perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.sources.Sources

/** One benchmark run of one workload, in this JVM.
  *
  * `Harness <spec.properties>` reads the run's spec (written by
  * perfbench/run.py), runs a cold pass and warm passes over the listed
  * queries, then writes every query's output for the oracle check and
  * leaves a raw record: one JSON object per line. All arithmetic on the
  * record (interval unions, self time, core busy) is done in
  * perfbench/spans.py, where it is unit-tested.
  *
  * Timings come only from this file: wall clocks around the calls into
  * `SparkEntry.queries`, and, when the spec asks for a trace, a
  * [[SparkListener]] and a [[QueryExecutionListener]] registered through
  * Spark's public APIs. Jobs are tied to queries through a local property,
  * which threads started inside a query inherit.
  *
  * `Harness prepare <spec.properties>` instead scales up a fixture with
  * `graft.tools.ScaleUp` and dumps the oracle SQL of the listed queries.
  */
object Harness {
  val TagKey = "perfbench.span"

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** Epoch microseconds, from the monotonic clock anchored once per JVM. */
  def nowUs(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** A JSON object from (key, value) pairs; values are Strings, numbers,
    * Booleans, Options or pre-rendered JSON (`Raw`). */
  final case class Raw(json: String)
  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) =>
    "\"" + esc(k) + "\":" + value(v)
  }.mkString("{", ",", "}")
  private def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => "\"" + esc(x.toString) + "\""
  }

  private def loadSpec(path: String): Properties = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    p
  }

  private def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** The process's peak resident set, VmHWM in /proc/self/status. */
  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("prepare", spec) => prepare(loadSpec(spec))
    case Seq(spec) => run(loadSpec(spec))
    case _ =>
      System.err.println("usage: Harness [prepare] <spec.properties>")
      sys.exit(2)
  }

  private def registry(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(",")}")
    names.map(n => n -> all(n))
  }

  private def session(cores: String): SparkSession = {
    val s = GraftSession.builder("perfbench").master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Scale up a fixture (optional) and write the oracle SQL of the listed
    * queries for each listed fixture. */
  private def prepare(spec: Properties): Unit = {
    val spark = session(spec.getProperty("cores"))
    try {
      Option(spec.getProperty("scaleup.src")).foreach { src =>
        val out = spec.getProperty("scaleup.out")
        val factor = spec.getProperty("scaleup.factor").toInt
        graft.tools.ScaleUp.run(spark, src, out, factor)
        val w = new PrintWriter(out + "/rowcounts.json", "UTF-8")
        try w.println(obj(Seq("documents", "embeddings", "events", "lineitem").map(t =>
          t -> spark.read.parquet(s"$out/$t.parquet").count()): _*))
        finally w.close()
      }
      val w = new PrintWriter(spec.getProperty("oracle.out"), "UTF-8")
      try {
        for (line <- spec.getProperty("oracle.queries").split(";") if line.nonEmpty) {
          val Array(dir, names) = line.split("=", 2)
          registry(names.split(",").toSeq)
          val sql = SparkEntry.oracleSqlFor(dir)
          for (n <- names.split(","))
            w.println(obj("fixture" -> dir, "query" -> n, "sql" -> sql.get(n)))
        }
      } finally w.close()
    } finally spark.stop()
  }

  private def run(spec: Properties): Unit = {
    val mainUs = nowUs()
    val dir = spec.getProperty("fixture")
    val queries = registry(spec.getProperty("queries").split(",").toSeq)
    val warmSeconds = spec.getProperty("seconds").toDouble
    val minWarm = spec.getProperty("min_warm_passes").toInt
    val trace = spec.getProperty("trace") == "1"
    val checkDir = spec.getProperty("check_dir")
    val tmpDir = new File(sys.props("java.io.tmpdir"))
    // the record is kept in memory and written out when the run ends
    val record = mutable.ArrayBuffer[String]()
    def emit(kvs: (String, Any)*): Unit = record += obj(kvs: _*)

    val spark = session(spec.getProperty("cores"))
    val sc = spark.sparkContext
    val sessionUs = nowUs()
    // set-up ends once the session is ready and every fixture table's
    // footer has been read (schema inference reads it), after one small
    // shuffle, as graft.Bench's warm-up does, has started the codegen and
    // shuffle paths
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"))
      spark.read.parquet(s"$dir/$t.parquet").schema
    spark.range(1000000).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().write.format("noop").mode("overwrite").save()
    emit("kind" -> "setup", "main_us" -> mainUs, "session_us" -> sessionUs, "end_us" -> nowUs())

    val recorder = new Recorder
    val stores = new StorePoller
    var tracing = false
    def traceOn(on: Boolean): Unit = if (trace && on != tracing) {
      if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(recorder) }
      else {
        recorder.barrier(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      tracing = on
    }

    def storeSnapshot(): Map[String, Double] =
      Sources.storeBuildSeconds.asScala.toMap

    def message(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

    /** One timed call: build = the registry call, exec = materializing
      * its plan through the noop sink. With `check`, the same plan is then
      * written out for the oracle check. Both that write and dropping the
      * caches, as graft.Bench does, fall outside the timed region.
      * Returns the timed microseconds. */
    def runQuery(pass: String, name: String,
                 fn: (SparkSession, String) => DataFrame, check: Boolean): Long = {
      val before = storeSnapshot()
      sc.setLocalProperty(TagKey, s"$pass/$name")
      val t0 = nowUs()
      var t1 = -1L
      var df: DataFrame = null
      val err =
        try {
          df = fn(spark, dir)
          t1 = nowUs()
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(message(e)) }
      val t2 = nowUs()
      if (t1 < 0) t1 = t2
      if (check && err.isEmpty) {
        sc.setLocalProperty(TagKey, s"check/$name")
        val checkErr =
          try { df.write.mode("overwrite").parquet(s"$checkDir/$name"); None }
          catch { case e: Throwable => Some(message(e)) }
        emit("kind" -> "check", "name" -> name, "error" -> checkErr)
      }
      sc.setLocalProperty(TagKey, null)
      val built = storeSnapshot().filter { case (k, v) => !before.get(k).contains(v) }
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      emit("kind" -> "query", "pass" -> pass, "name" -> name,
        "t0_us" -> t0, "t1_us" -> t1, "t2_us" -> t2, "error" -> err,
        "stores" -> Raw(obj(built.toSeq.sortBy(_._1): _*)))
      t2 - t0
    }

    /** A pass's time is the sum of its queries' timed regions. */
    def pass(label: String, check: Boolean = false): Long = {
      val t0 = nowUs()
      val timed = queries.map { case (n, fn) => runQuery(label, n, fn, check) }.sum
      emit("kind" -> "pass", "pass" -> label, "t0_us" -> t0, "t1_us" -> nowUs(),
        "timed_us" -> timed)
      timed
    }

    // cold pass: every store is built lazily, inside the timed region
    traceOn(true)
    if (trace) stores.start()
    val coldUs = pass("cold")
    if (trace) stores.stopAndJoin()
    emit("kind" -> "store_bytes", "bytes" -> bytesUnder(tmpDir))
    // warm passes until they have measured the run's seconds; the first one
    // also writes every output for the oracle check. After it, a traced run
    // alternates untraced and traced warm passes to price the trace.
    var warmUs = 0L
    var i = 0
    while (i < minWarm || warmUs < warmSeconds * 1e6) {
      val traced = trace && i > 0 && i % 2 == 0
      traceOn(traced)
      warmUs += pass(if (traced) s"warm$i.traced" else s"warm$i", check = i == 0)
      i += 1
    }
    emit("kind" -> "memory", "vmhwm_kb" -> vmHwmKb())
    emit("kind" -> "store_builds", "seconds" -> Raw(obj(storeSnapshot().toSeq.sortBy(_._1): _*)))
    // stopping the context drains the listener bus, so every job and plan
    // event of the passes has been delivered before the record is written
    spark.stop()
    if (trace) record ++= recorder.lines ++= stores.lines
    emit("kind" -> "end")
    val out = new PrintWriter(spec.getProperty("record"), "UTF-8")
    try record.foreach(out.println) finally out.close()
  }

  /** Jobs, per-stage task totals and planning phases, kept in memory. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val lines = mutable.ArrayBuffer[String]()
    private final class StageAgg {
      var tasks, taskMs, gcMs, cpuNs, shuffleRead, shuffleWrite, input, spill = 0L
    }
    private val stages = mutable.LinkedHashMap[Int, StageAgg]()
    private val jobOfStage = mutable.Map[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
      lines += obj("kind" -> "job_start", "job" -> e.jobId, "tag" -> tag,
        "ms" -> e.time, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      lines += obj("kind" -> "job_end", "job" -> e.jobId, "ms" -> e.time)
      lastEnded = e.jobId
      notifyAll()
    }

    /** Returns once every event posted before it has reached this
      * listener: the bus delivers in order, so the end of a marker job run
      * now is seen only after everything queued ahead of it. Called before
      * the listener is removed, so no event of a traced pass is lost. */
    def barrier(sc: org.apache.spark.SparkContext): Unit = {
      sc.setLocalProperty(TagKey, "barrier")
      val job = sc.parallelize(Seq(1), 1).countAsync()
      sc.setLocalProperty(TagKey, null)
      val id = job.jobIds.head
      job.get()
      synchronized {
        val deadline = System.currentTimeMillis() + 60000L
        while (lastEnded < id && System.currentTimeMillis() < deadline) wait(50)
      }
    }
    private var lastEnded = -1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.gcMs += m.jvmGCTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.spill += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      val a = stages.remove(id).getOrElse(new StageAgg)
      lines += obj("kind" -> "stage", "stage" -> id, "job" -> jobOfStage.get(id),
        "tasks" -> a.tasks, "task_ms" -> a.taskMs,
        "gc_ms" -> a.gcMs, "cpu_ns" -> a.cpuNs, "shuffle_read" -> a.shuffleRead,
        "shuffle_write" -> a.shuffleWrite, "input" -> a.input, "spill" -> a.spill)
    }

    private def plan(qe: QueryExecution): Unit = synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        lines += obj("kind" -> "plan",
          "start_ms" -> phases.map(_.startTimeMs).min,
          "end_ms" -> phases.map(_.endTimeMs).max,
          "ms" -> phases.map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  /** Session-store builds as spans: `Sources.storeBuildSeconds` gains an
    * entry when a build ends, so a poll gives each build's end (to the
    * poll period) and its duration. */
  final class StorePoller extends Thread("perfbench-store-poller") {
    setDaemon(true)
    val lines = mutable.ArrayBuffer[String]()
    @volatile private var running = true
    private val seen = mutable.Map[String, Double]() ++= Sources.storeBuildSeconds.asScala
    override def run(): Unit = {
      def poll(): Unit = Sources.storeBuildSeconds.asScala.foreach { case (k, v) =>
        if (!seen.get(k).contains(v)) {
          seen(k) = v
          lines += obj("kind" -> "store", "label" -> k, "end_us" -> nowUs(), "seconds" -> v)
        }
      }
      while (running) { poll(); Thread.sleep(2) }
      poll()
    }
    def stopAndJoin(): Unit = { running = false; join() }
  }
}
