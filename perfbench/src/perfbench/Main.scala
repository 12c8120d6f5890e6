package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload: the session settings it runs under, an untimed set-up
  * (inputs and warm-up), and units of work that each run one or more
  * timed operations through [[Harness.op]]. */
trait Workload {
  def settings(nproc: Int): Seq[(String, String)]
  def setup(h: Harness): Unit
  /** Runs unit of work number `i` of the measured phase. */
  def measure(h: Harness, i: Int): Unit
  /** Fewest units the measured phase runs, however short `--seconds`. */
  def minUnits: Int = 1
  def finish(h: Harness): Unit = ()
}

/** What a workload sees: the session, the span recorder, its seed and
  * scratch directory, and the operation counters. */
final class Harness(val spark: SparkSession, val rec: Recorder, val seed: Long,
                    val work: String) {
  /** True once set-up is over. */
  var measuring = false
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific facts for the record (rows per op, digests…). */
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** One timed operation: `timed` runs inside an op span of class
    * `cls`; `check` runs untimed on its result. A throw or a failed
    * check counts the operation as failed. */
  def op[T](cls: String, name: String)(timed: => T)(check: T => Boolean): Unit = {
    attempted += 1
    var id = -1
    val ok =
      try {
        val r = rec.span(name, "bench", "op") {
          id = rec.currentId
          rec.note("cls", cls)
          val cpu0 = Harness.processCpuNs
          try timed finally rec.note("cpu_ms", (Harness.processCpuNs - cpu0) / 1e6)
        }
        check(r)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name threw: $e")
          false
      }
    if (id >= 0) rec.noteOn(id, "ok", ok)
    if (!ok) { failed += 1; failures += name }
  }

  /** A check that is not tied to one timed operation. */
  def verify(name: String)(check: => Boolean): Unit = {
    attempted += 1
    val ok = try check catch {
      case NonFatal(e) => System.err.println(s"[perfbench] $name threw: $e"); false
    }
    if (!ok) { failed += 1; failures += name }
  }

  /** Data files (not hidden, not `_`-prefixed metadata) under `root`
    * and their total size. */
  def written(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val walk = Files.walk(p)
      try {
        val fs = walk.iterator.asScala.filter(Files.isRegularFile(_))
          .filterNot(f => p.relativize(f).iterator.asScala
            .exists(n => n.toString.startsWith(".") || n.toString.startsWith("_")))
          .toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally walk.close()
    }
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Harness {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM. Time the hypervisor steals
    * from the machine is not charged to it. */
  def processCpuNs: Long = os.getProcessCpuTime
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> --out <record.json>`. Writes one JSON record of
  * spans, Spark jobs, stream progress, counters and run context; the
  * Python side turns it into metrics. */
object Main {
  /** Reads and writes the benchmark's JSON files (record, digests). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val workloads: Map[String, Workload] = Map(
    "retail" -> RetailWorkload, "ext-heavy" -> ExtHeavy)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads(opt("workload"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val rec = new Recorder(traced)
    val nproc = Runtime.getRuntime.availableProcessors

    var h: Harness = null
    var setupEndEpochMs = 0L
    val jobs = new JobListener(rec)
    val stream = new StreamListener(rec)
    rec.span("run", "bench", "run") {
      rec.span("setup", "bench", "phase") {
        val b = SparkSession.builder()
          .master(s"local[$nproc]")
          .appName(s"perfbench-${opt("workload")}")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
        wl.settings(nproc).foreach { case (k, v) => b.config(k, v) }
        val spark = rec.span("SparkSession.getOrCreate", "bench") { b.getOrCreate() }
        spark.sparkContext.setLogLevel("ERROR")
        rec.attach(spark)
        if (traced) {
          spark.sparkContext.addSparkListener(jobs)
          spark.streams.addListener(stream)
        }
        h = new Harness(spark, rec, opt("seed").toLong, work)
        wl.setup(h)
      }
      setupEndEpochMs = System.currentTimeMillis()
      rec.span("measure", "bench", "phase") {
        val t0 = rec.now
        var i = 0
        h.measuring = true
        while (i < wl.minUnits || rec.now - t0 < seconds * 1000) {
          rec.span(s"unit-$i", "bench", "unit") { wl.measure(h, i) }
          i += 1
        }
      }
      rec.span("finish", "bench", "phase") { wl.finish(h) }
    }
    if (traced) jobs.drain()

    val spark = h.spark
    val conf = spark.conf.getAll.filter { case (k, _) =>
      (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") ||
        k == "spark.master" || k == "spark.driver.maxResultSize"
    }
    val context = Map[String, Any](
      "nproc" -> nproc,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "settings" -> wl.settings(nproc).toMap,
      "session_conf" -> conf,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> os.getSystemLoadAverage,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "traced" -> traced, "seconds" -> seconds)
    val record = Map[String, Any](
      "workload" -> opt("workload"), "seed" -> h.seed,
      "setup_end_epoch_ms" -> setupEndEpochMs,
      "context" -> context,
      "attempted" -> h.attempted, "failed" -> h.failed, "failures" -> h.failures,
      "facts" -> h.facts,
      "spans" -> rec.records,
      "jobs" -> (if (traced) jobs.records else Nil),
      "stream" -> (if (traced) stream.records else Nil))
    json.writeValue(new java.io.File(opt("out")), record)
    spark.stop()
  }
}
