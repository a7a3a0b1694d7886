package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The concurrent-fold helper's contract: results in task order, first
  * failure propagated (unwrapped), degenerate cases run inline. The store
  * lifecycles lean on these (a swallowed append failure would commit a
  * night that silently lost a store). */
class ParJobsSpec extends AnyFunSuite {

  test("map returns results in task order regardless of completion order") {
    val out = ParJobs.map(Seq(
      () => { Thread.sleep(80); "slow" },
      () => "fast",
      () => { Thread.sleep(30); "mid" }))
    assert(out == Seq("slow", "fast", "mid"))
  }

  test("run propagates the first task failure unwrapped, after letting " +
      "the others finish") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException](ParJobs.run(Seq(
      () => throw new IllegalStateException("boom"),
      () => { Thread.sleep(50); done.incrementAndGet(): Unit },
      () => { Thread.sleep(50); done.incrementAndGet(): Unit })))
    assert(e.getMessage == "boom")
    assert(done.get() == 2, "non-failing tasks must have completed")
  }

  test("map propagates the first task failure unwrapped, after letting " +
      "the others finish (VERDICT r15 #7: a failed slot must not return " +
      "while sibling store writes are still running)") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException](ParJobs.map[Int](Seq(
      () => throw new IllegalStateException("boom"),
      () => { Thread.sleep(50); done.incrementAndGet() },
      () => { Thread.sleep(50); done.incrementAndGet() })))
    assert(e.getMessage == "boom")
    assert(done.get() == 2, "non-failing tasks must have completed " +
      "before the failure propagates")
  }

  test("map never starts a queued task after an earlier failure, and " +
      "still waits for the started ones") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val late = new java.util.concurrent.atomic.AtomicBoolean(false)
    // one task per pool thread, then one that has to queue
    val started = Seq.fill(ParJobs.maxThreads - 1)(
      () => { Thread.sleep(50); done.incrementAndGet() })
    val e = intercept[IllegalStateException](ParJobs.map[Int](
      (() => throw new IllegalStateException("boom")) +: started :+
        (() => { late.set(true); 0 })))
    assert(e.getMessage == "boom")
    assert(done.get() == started.size,
      "every started sibling must have completed")
    assert(!late.get(), "a task queued behind the failure must never start")
  }

  test("empty and single-task inputs run inline") {
    ParJobs.run(Seq.empty)
    var ran = false
    ParJobs.run(Seq(() => { ran = true }))
    assert(ran)
    assert(ParJobs.map(Seq(() => 7)) == Seq(7))
  }
}
