package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement pieces: PlanSweep's operator counts, the bounded
  * listener drain, and KeyMetrics' job-group attribution. */
class HarnessSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("PlanSweep.counts counts only node-leading exchanges (ReusedExchange quotes its source)") {
    val plan = java.nio.file.Files.readString(
      java.nio.file.Paths.get("plans/r17/dedup_near_minhash_after.txt"))
    val c = PlanSweep.counts(plan).toMap
    assert((c("ex"), c("reex"), c("bex")) == ((15, 4, 11)))
  }

  test("KeyMetrics.drain returns the last count of a counter that never settles, by its deadline") {
    val n = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val last = KeyMetrics.drain(n.incrementAndGet())
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 4.9 && sec < 6.0, sec)
    assert(last == n.get)
    val t1 = System.nanoTime()
    assert(KeyMetrics.drain(42L) == 42L)
    assert((System.nanoTime() - t1) / 1e9 < 1.0)
  }

  test("Harness.run returns a failing action's error instead of throwing") {
    val r = Harness.run(s, "harness_spec_fail")(throw new IllegalStateException("boom"))
    assert(r.error.map(_.getMessage).contains("boom"))
  }

  test("KeyMetrics charges each job group only its own jobs and tasks") {
    val m = new KeyMetrics
    s.sparkContext.addSparkListener(m)
    try {
      val a = Harness.run(s, "harness_spec_a")(
        s.sparkContext.parallelize(1 to 100, 3).count())
      val b = Harness.run(s, "harness_spec_b")(
        s.sparkContext.parallelize(1 to 100, 5).map(i => (i % 7, i))
          .reduceByKey(_ + _, 2).count())
      assert(a.error.isEmpty && b.error.isEmpty)
      val ta = m.drained("harness_spec_a")
      val tb = m.drained("harness_spec_b")
      // a: one job, 3 tasks, no shuffle; b: one job, 5 map + 2 reduce tasks
      assert((ta.jobs.get, ta.tasks.get, ta.shufW.get) == ((1L, 3L, 0L)))
      assert((tb.jobs.get, tb.tasks.get) == ((1L, 7L)))
      assert(tb.shufW.get > 0 && tb.shufR.get > 0)
    } finally s.sparkContext.removeSparkListener(m)
  }
}
