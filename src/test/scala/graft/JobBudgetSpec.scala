package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.jobs.CurationJob

/** Driver round-trip budgets of the iterative extension operators at
  * sf0.001: each item's Spark job count must stay at or below half of
  * what the per-round loops ran before the local finish, the one-pass
  * LSH sweep and single-evaluation curation (74, 37, 59 and 75 jobs in
  * this suite's session). A job is a driver round-trip, and on small
  * inputs those round-trips, not executor work, set the wall time. */
class JobBudgetSpec extends SparkSpec {
  private val dir = new java.io.File(sf("documents")).getParent

  test("job budgets: q184, q135, q215 and CurationJob.run at sf0.001") {
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
    // a fresh session: the memos (keyed on the session) start cold
    val s = spark.newSession()
    val q = SparkEntry.queries
    spark.sparkContext.addSparkListener(listener)
    try {
      // q135 reads the old crawl's labelling as a stored artifact (a
      // memo built once per session): build it outside the count
      q("q135_incremental_components")(s, dir).collect()
      val out = java.nio.file.Files.createTempDirectory("graft-budget")
      val counts = Seq(
        "q184_horizon_dedup" -> (74, jobs(q("q184_horizon_dedup")(s, dir).collect())),
        "q135_incremental_components" ->
          (37, jobs(q("q135_incremental_components")(s, dir).collect())),
        "q215_lsh_band_sweep" -> (59, jobs(q("q215_lsh_band_sweep")(s, dir).collect())),
        "CurationJob.run" -> (75, jobs(CurationJob.run(s,
          s"$dir/documents.parquet", out.toString))))
      counts.foreach { case (item, (before, now)) =>
        assert(now <= before / 2, s"$item ran $now jobs (budget ${before / 2})")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      SparkEntry.evictSession(s)
    }
  }
}
