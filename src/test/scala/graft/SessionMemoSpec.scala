package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The session memos release what they hold, and concurrent first hits
  * share one build. */
class SessionMemoSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `f` on a fresh session, which is then evicted, and returns
    * the RDDs left persisted since it started. Every RDD persisted when
    * a job starts or ends meanwhile is held, so the context cleaner,
    * which unpersists an RDD once it is garbage, cannot hide a
    * checkpoint the code left behind. */
  private def leftBy(f: SparkSession => Any): Set[Int] = {
    val sc = spark.sparkContext
    val held = ConcurrentHashMap.newKeySet[AnyRef]()
    val holder = new SparkListener {
      private def hold(): Unit = sc.getPersistentRDDs.values.foreach(held.add)
      override def onJobStart(e: SparkListenerJobStart): Unit = hold()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = hold()
    }
    val s = spark.newSession()
    val before = persisted
    sc.addSparkListener(holder)
    try {
      f(s)
      SparkEntry.evictSession(s)
      persisted -- before
    } finally sc.removeSparkListener(holder)
  }

  test("evictSession releases every memo's checkpoints: " +
      "getPersistentRDDs back at its baseline") {
    val left = leftBy { s =>
      val before = persisted
      SparkEntry.warmShared(s, dir)
      // the rest of SparkEntry's memos, which registered with its first use
      SessionMemo.registered.foreach(_(s, dir))
      assert(SessionMemo.registered.size === 13)
      assert(SessionMemo.registered.forall(_.holds(s)))
      assert((persisted -- before).nonEmpty)
    }
    assert(left === Set.empty[Int])
  }

  test("concurrent first hits on a cold sharedComponents share one build") {
    // what one build leaves persisted until its session is evicted
    var oneBuild = Set.empty[Int]
    leftBy { s =>
      val before = persisted
      SparkEntry.sharedComponents(s, dir)
      oneBuild = persisted -- before
    }
    assert(oneBuild.nonEmpty)
    val pool = Executors.newFixedThreadPool(2)
    try leftBy { s =>
      val before = persisted
      val start = new CountDownLatch(1)
      val hits = Seq.fill(2)(pool.submit(() => {
        start.await()
        SparkEntry.sharedComponents(s, dir)
      }))
      start.countDown()
      val Seq(a, b) = hits.map(_.get(10, TimeUnit.MINUTES))
      assert(a eq b)
      // a second build would leave its own checkpoints
      assert((persisted -- before).size === oneBuild.size)
    } finally pool.shutdown()
  }
}
