package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Bench, SparkEntry, Verify}
import graft.jobs.CurationJob

/** `ext-heavy`: the extension tier's heaviest items over the fixed SF
  * 0.01 test tables (`perfbench/data/sf0.01`), each timed as its first
  * hit in a session, because the `SparkEntry` memos are keyed on the
  * session and a repeat in the same session is a memo lookup. Set-up
  * runs `graft.Bench`'s preamble (`warmTables`, a warm-up query, and
  * `warmShared`, the shared memos' first hit); each round then runs
  * every item once, in seed-drawn order.
  *
  * Items: `jobs.CurationJob.run`; the scheduling-bound iterative
  * queries; the CPU-bound median/outlier/n-gram queries. Each result's
  * canonical digest (`graft.Verify.canonRows`: columns sorted by name,
  * floats at 6 dp, rows sorted) must equal the one recorded in
  * `perfbench/ext_digests.json`. */
object ExtHeavy extends Workload {
  val Iterative = Seq("q184_horizon_dedup", "q193_horizon_parity",
    "q135_incremental_components", "q215_lsh_band_sweep", "q229_opq_perm_uplift",
    "q175_containment_blocked")
  val CpuBound = Seq("q102_weighted_median", "q139_mad_outliers", "q17_ngram_jaccard")
  val Curation = "CurationJob.run"
  val Items: Seq[String] = Curation +: (Iterative ++ CpuBound)

  /** `graft.Bench`'s session settings, with its core count taken from
    * the machine. */
  def settings(nproc: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.driver.maxResultSize" -> "8g")

  private var data = ""
  private var expected = Map.empty[String, String]
  private val observed = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def cls(item: String): String =
    if (item == Curation) "curation" else if (Iterative.contains(item)) "iterative" else "cpu_bound"

  private def sha256(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def digest(s: SparkSession, rows: Array[Row]): String =
    if (rows.isEmpty) sha256(Nil)
    else sha256(Verify.canonRows(s.createDataFrame(rows.toSeq.asJava, rows.head.schema)))

  def setup(h: Harness): Unit = {
    data = sys.props("perfbench.data")
    expected = Main.json.readValue(new java.io.File(sys.props("perfbench.digests")),
      classOf[Map[String, String]])
    h.verify("warmTables") {
      h.rec.span("Bench.warmTables", "Tables") { Bench.warmTables(h.spark, data) }.isEmpty
    }
    h.rec.span("q1_pricing_summary", "SparkEntry") {
      SparkEntry.queries("q1_pricing_summary")(h.spark, data)
        .write.format("noop").mode("overwrite").save()
    }
    h.rec.span("warmShared", "SparkEntry") { SparkEntry.warmShared(h.spark, data) }
  }

  /** Round `i`: the first runs in the set-up session, whose memos
    * `warmShared` has just built; later ones in a new session. Each
    * item runs once, in seed-drawn order. */
  def measure(h: Harness, i: Int): Unit = {
    val s = if (i == 0) h.spark else h.spark.newSession()
    if (i > 0) h.rec.span("warmShared", "SparkEntry") { SparkEntry.warmShared(s, data) }
    new scala.util.Random(h.seed * 31 + i).shuffle(Items).foreach { item =>
      // as graft.Bench does: collect the previous item's garbage outside
      // the timed region
      System.gc()
      h.op(cls(item), item) {
        if (item == Curation)
          h.rec.span(item, "jobs") { CurationJob.run(s, s"$data/documents.parquet", s"${h.work}/curated/$i") }
        else h.rec.span(item, "SparkEntry") { SparkEntry.queries(item)(s, data).collect() }
      } { rows =>
        val d = digest(s, rows)
        observed(item) = d
        expected.get(item).contains(d)
      }
    }
  }

  override def finish(h: Harness): Unit = {
    h.facts("digests") = observed.toMap
    val (files, bytes) = h.written(s"${h.work}/curated")
    h.facts("files_written") = files
    h.facts("bytes_written") = bytes
  }
}
