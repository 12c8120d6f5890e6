package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] is the r16 branch-overlap primitive under the experiment
  * operators (permutedPqUpliftStats, pairSetEval, canaryRecallStats):
  * results must be position-stable and a branch failure must surface
  * as the ORIGINAL exception (not the pool's ExecutionException
  * wrapper), because callers and specs match on exception classes. */
class ParSpec extends AnyFunSuite {

  test("sections returns both branch values in position") {
    assert(Par.sections(1 + 1, "b") === ((2, "b")))
  }

  test("sections3 evaluates all three branches") {
    val (a, b, c) = Par.sections3({ Thread.sleep(5); "a" }, 42L, Seq(3))
    assert(a === "a" && b === 42L && c === Seq(3))
  }

  test("a pool-branch failure rethrows the original exception class") {
    val boom = intercept[IllegalStateException] {
      Par.sections(throw new IllegalStateException("branch a died"), 7)
    }
    assert(boom.getMessage === "branch a died")
  }

  test("a caller-thread-branch failure propagates unchanged") {
    val zero = "".length // runtime zero the constant-folder cannot see
    intercept[ArithmeticException] {
      Par.sections3(1, 2, 1 / zero)
    }
  }

  test("nested sections cannot deadlock (one branch per level runs on " +
      "the caller's thread; the pool is unbounded)") {
    val ((a, b), c) = Par.sections(Par.sections("x", "y"), "z")
    assert(a === "x" && b === "y" && c === "z")
  }

  test("a caller-branch failure cancels the outstanding pool branch " +
      "(r17: no detached branch outliving the call)") {
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.CountDownLatch(1)
    intercept[IllegalArgumentException] {
      Par.sections({
        started.countDown()
        try Thread.sleep(60000)
        catch { case _: InterruptedException => interrupted.set(true) }
        "never returned"
      }, {
        started.await()
        throw new IllegalArgumentException("caller died")
      })
    }
    val t0 = System.nanoTime()
    while (!interrupted.get && System.nanoTime() - t0 < 5e9.toLong)
      Thread.sleep(10)
    assert(interrupted.get,
      "pool branch was not interrupted after caller-branch failure")
  }

  test("sections3: when one pool branch fails, the sibling's failure " +
      "rides as suppressed instead of vanishing") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val boom = intercept[IllegalStateException] {
      Par.sections3(
        { gate.await(); throw new IllegalStateException("a died") },
        { gate.countDown(); Thread.sleep(50)
          throw new UnsupportedOperationException("b died too") },
        "c")
    }
    assert(boom.getMessage === "a died")
    // b either died on its own (suppressed UOE) or was cancelled after
    // a's failure (suppressed InterruptedException / nothing if the
    // cancel won the race) — what must NOT happen is b running on
    // detached with no trace; a's primary failure always surfaces.
    assert(boom.getSuppressed.forall(s =>
      s.isInstanceOf[UnsupportedOperationException] ||
      s.isInstanceOf[InterruptedException]))
  }

  test("pool branches inherit the SUBMITTING thread's Spark job " +
      "description (and clear a reused thread's stale one)") {
    val sc = SparkSpec.session.sparkContext
    sc.setLocalProperty("spark.job.description", "par-spec-label")
    try {
      val (seen, _) = Par.sections(
        sc.getLocalProperty("spark.job.description"), ())
      assert(seen === "par-spec-label")
      sc.setLocalProperty("spark.job.description", null)
      val (cleared, _) = Par.sections(
        Option(sc.getLocalProperty("spark.job.description")), ())
      assert(cleared === None)
    } finally sc.setLocalProperty("spark.job.description", null)
  }

  test("a branch submitted with no active session does not keep a " +
      "reused pool thread's stale description") {
    import org.apache.spark.sql.SparkSession
    val spark = SparkSpec.session
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "par-spec-stale")
    try {
      // the labelled branch leaves its description on a pool thread
      val (seen, _) = Par.sections(
        sc.getLocalProperty("spark.job.description"), ())
      assert(seen === "par-spec-stale")
      sc.setLocalProperty("spark.job.description", null)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Thread.sleep(100) // let the pool thread go idle, so it is reused
      val (later, _) = Par.sections(
        Option(sc.getLocalProperty("spark.job.description")), ())
      assert(later === None)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
      sc.setLocalProperty("spark.job.description", null)
    }
  }
}
