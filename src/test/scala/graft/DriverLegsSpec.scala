package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

class DriverLegsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext

  test("DriverLegs: a failing leg cancels a sibling's running job; the call rethrows after every leg stopped") {
    val boom = new IllegalStateException("leg 0 failed")
    val siblingStopped = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      DriverLegs.map(spark, Seq(0, 1)) {
        case 0 =>
          // fail only once the sibling's slow job is running
          val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          assert(sc.statusTracker.getActiveJobIds.nonEmpty, "sibling job never started")
          throw boom
        case _ =>
          try sc.parallelize(1 to 2, 2).mapPartitions { it =>
            // ~60 s unless cancelled
            var ticks = 0
            while (ticks < 1200 && !TaskContext.get().isInterrupted()) {
              Thread.sleep(50); ticks += 1
            }
            it
          }.count()
          finally siblingStopped.set(true)
      }
    }
    assert(err eq boom, s"rethrows the failing leg's own error: $err")
    assert(siblingStopped.get, "the sibling leg had stopped before the rethrow")
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"orphaned jobs: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30.0, s"the sibling's job was cancelled, not waited out: $secs s")
  }

  test("DriverLegs: at most defaultParallelism threads, results in input order") {
    val limit = sc.defaultParallelism
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val xs = 0 until 3 * limit
    val out = DriverLegs.map(spark, xs) { x =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try { Thread.sleep(30); x * 10 } finally { running.decrementAndGet(); () }
    }
    assert(out == xs.map(_ * 10))
    assert(peak.get <= limit && peak.get >= 2, s"peak ${peak.get} vs limit $limit")
    assert(DriverLegs.both(spark)("a", 2) == (("a", 2)))
  }
}
