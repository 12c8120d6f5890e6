package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder. Spans nest as run → phase → op → layer call; the
  * benchmark opens one around each of its own calls into a program
  * module, so layer time is measured from outside the program.
  *
  * With tracing on, each span also labels the Spark jobs it submits
  * (`spark.job.description = pb:<span id>`, which `graft.Par` copies
  * into its pool threads) and records the cached plus checkpointed
  * storage still held when it ends; [[JobListener]] and
  * [[StreamListener]] collect the Spark side. With tracing off, spans
  * cost two clock reads. */
final class Recorder(val traced: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private var stack: List[mutable.Map[String, Any]] = Nil
  @volatile private var spark: Option[SparkSession] = None

  /** Milliseconds since the recorder was created. */
  def now: Double = (System.nanoTime() - origin) / 1e6

  def attach(s: SparkSession): Unit = spark = Some(s)

  /** Times `f` as a span; `layer` is the program module the call
    * enters ("bench" for the benchmark's own structure). */
  def span[T](name: String, layer: String, kind: String = "call")(f: => T): T = {
    val rec = mutable.Map[String, Any](
      "id" -> spans.size, "parent" -> stack.headOption.map(_("id")).getOrElse(-1),
      "name" -> name, "layer" -> layer, "kind" -> kind)
    spans += rec
    stack = rec :: stack
    val sc = if (traced) spark.map(_.sparkContext) else None
    val prevDesc = sc.map(_.getLocalProperty("spark.job.description"))
    sc.foreach(_.setJobDescription(s"pb:${rec("id")}"))
    rec("t0") = now
    try f
    finally {
      rec("t1") = now
      stack = stack.tail
      sc.foreach { c =>
        c.setJobDescription(prevDesc.orNull)
        rec("storage_mb") = c.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
      }
    }
  }

  /** Adds an attribute to the innermost open span. */
  def note(key: String, value: Any): Unit = stack.head(key) = value

  def noteOn(id: Int, key: String, value: Any): Unit = spans(id)(key) = value

  def currentId: Int = stack.head("id").asInstanceOf[Int]

  def records: Seq[collection.Map[String, Any]] = spans.toSeq
}

/** Per-job record with task metrics summed over the job's stages. */
final class JobListener(rec: Recorder) extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execRoot = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var lastEvent = System.nanoTime()

  private def graftFrames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim).filter(_.startsWith("graft."))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(x.executionId, x.details)
      x.rootExecutionId.foreach(r => execRoot.put(x.executionId, r))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // a SQL job's stages may be submitted from a planner thread; the
    // call site of the action is on its SQL execution
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    val frames = Seq(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details),
        exec.flatMap(x => Option(execSites.get(x))),
        exec.flatMap(x => Option(execRoot.get(x))).flatMap(x => Option(execSites.get(x))))
      .flatten.map(graftFrames).find(_.nonEmpty).getOrElse(Nil)
    val r = mutable.Map[String, Any](
      "id" -> e.jobId, "t0" -> rec.now, "desc" -> prop("spark.job.description"),
      "query_id" -> prop("sql.streaming.queryId"), "frames" -> frames,
      "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
      "shuffle_read" -> 0L, "shuffle_write" -> 0L, "spill" -> 0L,
      "input_bytes" -> 0L, "output_bytes" -> 0L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, r)
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(r => r.synchronized { r("t1") = rec.now })
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId)
    if (m != null) Option(jobs.get(job)).foreach { r =>
      def add(k: String, v: Long): Unit = r(k) = r(k).asInstanceOf[Long] + v
      r.synchronized {
        add("tasks", 1)
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Waits until every started job has ended and the bus has been
    * quiet for 300 ms (at most 10 s): events arrive asynchronously. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    import scala.jdk.CollectionConverters._
    def open = jobs.values.asScala.exists(r => r.synchronized(!r.contains("t1")))
    while (System.nanoTime() < deadline &&
      (open || System.nanoTime() - lastEvent < 300000000L)) Thread.sleep(50)
  }

  def records: Seq[collection.Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.map(r => r.synchronized(r.clone())).sortBy(_("id").asInstanceOf[Int])
  }
}

/** Micro-batch progress of every streaming query: the duration split
  * (addBatch / queryPlanning / walCommit / ...) and state size. */
final class StreamListener(rec: Recorder) extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val r = Map[String, Any](
      "t" -> rec.now, "query_id" -> p.id.toString, "batch" -> p.batchId,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "dropped_by_watermark" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    progress.synchronized(progress += r)
  }

  def records: Seq[Map[String, Any]] = progress.synchronized(progress.toSeq)
}
