package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession

/** Independent legs of one query on concurrent driver threads (guide
  * §2.6): each leg runs its own jobs, so one leg's stage tails back-fill
  * the cores another leaves idle. This overlaps wall time; it does not cut
  * work. Legs must not mutate session conf. */
object DriverLegs {

  /** `f` over `xs` on at most min(|xs|, defaultParallelism) driver
    * threads, results in input order. Every Spark job a leg starts carries
    * a per-call job tag. On the first failure the tagged jobs are
    * cancelled (again on every poll, so a job a leg starts after the first
    * cancel is caught too) and legs not yet started are skipped; the call
    * returns only after every leg has stopped and no tagged job is still
    * running, then rethrows that first failure. A caller's `finally` — a
    * conf restore — therefore never runs under a sibling still executing. */
  def map[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val tag = s"graft-legs-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(xs.length, sc.defaultParallelism)))
    val results = new Array[Any](xs.length)
    val failed = new AtomicBoolean(false)
    try {
      val done = new ExecutorCompletionService[Unit](pool)
      xs.zipWithIndex.foreach { case (x, i) =>
        done.submit(new Callable[Unit] {
          def call(): Unit = if (!failed.get) {
            sc.addJobTag(tag)
            try results(i) = f(x) finally sc.removeJobTag(tag)
          }
        })
      }
      var first: Throwable = null
      xs.indices.foreach { _ =>
        var leg = if (first == null) done.take() else null
        while (leg == null) {
          sc.cancelJobsWithTag(tag)
          leg = done.poll(100, TimeUnit.MILLISECONDS)
        }
        try leg.get()
        catch {
          case e: ExecutionException if first == null =>
            first = e.getCause
            failed.set(true)
          case _: ExecutionException => () // a sibling cancelled after the first
        }
      }
      if (first != null) {
        sc.cancelJobsWithTag(tag)
        val tracker = sc.statusTracker
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (System.nanoTime() < deadline &&
            tracker.getJobIdsForTag(tag).exists(id =>
              tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING)))
          Thread.sleep(20)
        throw first
      }
      results.toSeq.asInstanceOf[Seq[B]]
    } finally { pool.shutdown(); () }
  }

  /** Two legs of different result types, under [[map]]'s contract. */
  def both[A, B](spark: SparkSession)(fa: => A, fb: => B): (A, B) = {
    val r = map(spark, Seq[() => Any](() => fa, () => fb))(_())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
