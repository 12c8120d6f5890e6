package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.jobs.CurationJob

/** Driver round-trip budgets at sf0.001. A job is a driver round-trip,
  * and on small inputs those round-trips, not executor work, set the
  * wall time.
  *
  * The iterative extension operators must stay at or below half of
  * what their per-round loops ran before the local finish, the
  * one-pass LSH sweep and single-evaluation curation (74, 37, 59 and
  * 75 jobs in this suite's session). The PQ index memos and the PQ
  * lifecycle queries must stay at or below the counts they run with
  * PQ training finished on the driver (3, 11, 7, 18; 16, 28, 42, 73,
  * 37 in this suite's session; distributed training alone ran 14, 22,
  * 19, 29; 16, 28, 52, 83, 59), and the four memos together at or
  * below half of their 84 distributed-only jobs. BPE training with
  * three merges stays at the 16 jobs it runs without rewriting the
  * vocabulary after its last merge (18 with that rewrite). */
class JobBudgetSpec extends SparkSpec {
  private val dir = new java.io.File(sf("documents")).getParent

  /** Runs `body` on a fresh session (its memos, keyed on the session,
    * start cold) with a counter of the Spark jobs a block starts. */
  private def withJobCount(body: (SparkSession, (=> Any) => Int) => Unit)
      : Unit = {
    val started = new AtomicInteger()
    val ended = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    // events arrive asynchronously: wait until every started job has
    // ended and no new one started for 300 ms
    def drain(): Unit = {
      var last = -1
      while (started.get != ended.get || started.get != last) {
        last = started.get
        Thread.sleep(300)
      }
    }
    def jobs(f: => Any): Int = {
      drain()
      val before = started.get
      f
      drain()
      started.get - before
    }
    val s = spark.newSession()
    spark.sparkContext.addSparkListener(listener)
    try body(s, jobs(_))
    finally {
      spark.sparkContext.removeSparkListener(listener)
      SparkEntry.evictSession(s)
    }
  }

  private def assertBudgets(counts: Seq[(String, (Int, Int))]): Unit =
    counts.foreach { case (item, (budget, now)) =>
      info(s"$item ran $now jobs (budget $budget)")
      assert(now <= budget, s"$item ran $now jobs (budget $budget)")
    }

  test("job budgets: q184, q135, q215 and CurationJob.run at sf0.001") {
    withJobCount { (s, jobs) =>
      val q = SparkEntry.queries
      // q135 reads the old crawl's labelling as a stored artifact (a
      // memo built once per session): build it outside the count
      q("q135_incremental_components")(s, dir).collect()
      val out = java.nio.file.Files.createTempDirectory("graft-budget")
      assertBudgets(Seq(
        "q184_horizon_dedup" -> (74, jobs(q("q184_horizon_dedup")(s, dir).collect())),
        "q135_incremental_components" ->
          (37, jobs(q("q135_incremental_components")(s, dir).collect())),
        "q215_lsh_band_sweep" -> (59, jobs(q("q215_lsh_band_sweep")(s, dir).collect())),
        "CurationJob.run" -> (75, jobs(CurationJob.run(s,
          s"$dir/documents.parquet", out.toString))))
        .map { case (item, (before, now)) => item -> (before / 2, now) })
    }
  }

  test("job budgets: bpeMerges(iters = 3) at sf0.001") {
    withJobCount { (s, jobs) =>
      val docs = Tables.documents(s, dir)
      assertBudgets(Seq("bpeMerges(iters = 3)" ->
        (16, jobs(graft.ext.TextAnalysis.bpeMerges(docs, iters = 3)))))
    }
  }

  test("job budgets: the four PQ index memos and q197, q201, q220, q226, q229 at sf0.001") {
    withJobCount { (s, jobs) =>
      def query(name: String) = jobs(SparkEntry.queries(name)(s, dir).collect())
      // the memos build first, cold, in warmShared's order; q197 and
      // q201 then search the warm shared indexes
      val memos = Seq(
        "sharedPqIndex" -> (3, jobs(SparkEntry.sharedPqIndex(s, dir))),
        "sharedIvfPqIndex" ->
          (11, jobs(SparkEntry.sharedIvfPqIndex(s, dir))),
        "sharedGrownPqIndex" -> (7, jobs(SparkEntry.sharedGrownPqIndex(s, dir))),
        "sharedGrownIvfPqIndex" ->
          (18, jobs(SparkEntry.sharedGrownIvfPqIndex(s, dir))))
      assertBudgets(memos ++ Seq(
        "the four PQ memos" -> ((14 + 22 + 19 + 29) / 2,
          memos.map(_._2._2).sum),
        "q197_pq_index_roundtrip" -> (16, query("q197_pq_index_roundtrip")),
        "q201_residual_roundtrip" -> (28, query("q201_residual_roundtrip")),
        "q220_vector_ingest_parity" -> (42, query("q220_vector_ingest_parity")),
        "q226_residual_ingest_parity" ->
          (73, query("q226_residual_ingest_parity")),
        "q229_opq_perm_uplift" -> (37, query("q229_opq_perm_uplift"))))
    }
  }
}
