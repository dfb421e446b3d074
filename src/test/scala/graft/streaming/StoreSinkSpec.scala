package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** [[StoreSink.concurrently]]: a micro-batch's store steps overlap, but the
  * call returns only once every step has stopped, so a failed batch never
  * leaves a write of its own running behind it.
  */
class StoreSinkSpec extends SparkSpec {

  test("concurrently: a failing step's siblings are waited out, then its failure is rethrown") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val finished = new ConcurrentLinkedQueue[String]()
    def step(name: String, sleepMs: Long, fail: Boolean): () => Unit = () => {
      threads.add(Thread.currentThread())
      Thread.sleep(sleepMs)
      if (fail) throw new IllegalStateException(s"$name failed")
      finished.add(name)
      ()
    }
    val e = intercept[IllegalStateException] {
      StoreSink.concurrently(spark)(
        step("first", 0, fail = true), step("slow", 400, fail = false),
        step("late", 200, fail = true), step("quick", 50, fail = false))
    }
    assert(e.getMessage == "first failed", s"rethrew ${e.getMessage}, not the first failure")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("late failed"))
    assert(finished.asScala.toSet == Set("slow", "quick"), s"finished: $finished")
    assert(threads.size == 4 && threads.asScala.forall(!_.isAlive), "a step outlived the call")
  }

  test("concurrently: steps run with the caller's session and local properties") {
    val session = spark.newSession()
    val seen = new ConcurrentLinkedQueue[(Option[SparkSession], String)]()
    val sc = spark.sparkContext
    sc.setLocalProperty("streaming.sql.batchId", "7")
    try StoreSink.concurrently(session)(Seq.fill(3)(() => {
        seen.add((SparkSession.getActiveSession, sc.getLocalProperty("streaming.sql.batchId")))
        ()
      }): _*)
    finally sc.setLocalProperty("streaming.sql.batchId", null)
    assert(seen.asScala.toSeq == Seq.fill(3)((Some(session), "7")))
  }

  test("concurrently: an interrupted caller interrupts its steps and still waits them out") {
    val stepInterrupted = new AtomicBoolean(false)
    val stepDone = new AtomicBoolean(false)
    val started = new CountDownLatch(1)
    var returnedAfterStep = false
    var callerStillInterrupted = false
    val caller = new Thread(() => {
      StoreSink.concurrently(spark)(() => {
        started.countDown()
        try Thread.sleep(60000) catch { case _: InterruptedException => stepInterrupted.set(true) }
        Thread.sleep(200) // cleanup after the interrupt: the caller must wait for it
        stepDone.set(true)
      })
      returnedAfterStep = stepDone.get()
      callerStillInterrupted = Thread.currentThread().isInterrupted
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "the step never started")
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "the caller is still waiting")
    assert(stepInterrupted.get(), "the interrupt did not reach the step")
    assert(returnedAfterStep, "the caller returned while its step was still running")
    assert(callerStillInterrupted, "the caller's interrupt was swallowed")
  }
}
