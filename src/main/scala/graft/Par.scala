package graft

/** Overlap INDEPENDENT eagerly-materializing branches of one query's
  * construction — the "overlap independent jobs" pattern (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once
  * inside one application; actions are only sequential because the
  * calling code invokes them sequentially. Many experiment operators
  * here build two or three branches (exact yardstick vs candidate
  * index, plain vs permuted ladder) whose internal `localCheckpoint` /
  * `collect` actions otherwise serialize on the driver thread, leaving
  * the executor pool idle in each branch's scheduling tail. Evaluating
  * the branches on separate threads lets the second branch's tasks
  * back-fill the cores the first branch's tail leaves free.
  *
  * Results are UNCHANGED — each branch builds exactly the plan it
  * built before; only the wall-clock shrinks toward max(branch) from
  * sum(branches). Scale note: on a real cluster this is the same win
  * (FIFO scheduling back-fills executors freed by a branch's straggler
  * tail); nothing here is local-mode-specific.
  *
  * The pool is unbounded-but-daemon (threads die with the JVM and are
  * reused when idle); one branch always runs on the CALLER's thread,
  * so nesting `sections` inside a branch cannot deadlock and the
  * caller's thread-local job description labels at least one branch.
  *
  * Failure contract (r17, from the r16 ADVICE): if the caller-thread
  * branch throws, the already-submitted pool branches are CANCELLED
  * (interrupting their Spark actions) instead of running detached with
  * their failures swallowed; if a pool branch fails, its siblings are
  * cancelled and awaited so no branch outlives the call, and the first
  * failure is rethrown with any sibling failure attached as suppressed.
  * Spark job-group/description/pool local properties are copied from
  * the caller into each pool branch at submit time (and stale values
  * from a reused pool thread cleared), so cancellation groups and UI
  * labels stay correct across thread reuse. */
object Par {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(1)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  /** Spark thread-local job properties a branch must inherit from its
    * SUBMITTING thread, not from whichever thread happened to create
    * this reused pool thread: job group + interrupt flag (cancellation
    * correctness), description (UI attribution), scheduler pool. */
  private val inheritKeys = Seq(
    "spark.jobGroup.id", "spark.job.interruptOnCancel",
    "spark.job.description", "spark.scheduler.pool")

  /** Per pool thread: the SparkContext whose local properties it last
    * set, so a branch submitted with no active session can still clear
    * the values an earlier branch left on this thread. */
  private val lastContext = new ThreadLocal[org.apache.spark.SparkContext]

  private def submit[A](a: => A): java.util.concurrent.Future[A] = {
    // snapshot on the CALLER's thread; null values still ride along so
    // a reused pool thread's stale property is cleared, not kept
    val snap = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
      .map(sc => (sc, inheritKeys.map(k => k -> sc.getLocalProperty(k))))
    pool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = {
        snap match {
          case Some((sc, kvs)) =>
            kvs.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            lastContext.set(sc)
          case None => Option(lastContext.get).foreach(sc =>
            inheritKeys.foreach(sc.setLocalProperty(_, null)))
        }
        a
      }
    })
  }

  /** Re-throw the branch's ORIGINAL failure, not the pool's wrapper —
    * callers (and tests) must see the same exception class a serial
    * evaluation would have thrown. */
  private def await[A](f: java.util.concurrent.Future[A]): A =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** Cancel-and-drain a sibling after `primary` failed: the sibling's
    * own failure (if any) must not vanish — attach it as suppressed. */
  private def reap(primary: Throwable,
                   fs: java.util.concurrent.Future[_]*): Nothing = {
    fs.foreach(_.cancel(true))
    fs.foreach { f =>
      try { await(f); () }
      catch {
        case _: java.util.concurrent.CancellationException => ()
        case s: Throwable if s ne primary => primary.addSuppressed(s)
      }
    }
    throw primary
  }

  /** Evaluate `a` on a pool thread while `b` runs on the caller's
    * thread; return both. */
  def sections[A, B](a: => A, b: => B): (A, B) = {
    val fa = submit(a)
    val rb = try b catch { case t: Throwable => reap(t, fa) }
    (await(fa), rb)
  }

  /** Three-way [[sections]]: `a` and `b` on pool threads, `c` on the
    * caller's thread. */
  def sections3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fa = submit(a)
    val fb = submit(b)
    val rc = try c catch { case t: Throwable => reap(t, fa, fb) }
    val ra = try await(fa) catch { case t: Throwable => reap(t, fb) }
    (ra, await(fb), rc)
  }
}
