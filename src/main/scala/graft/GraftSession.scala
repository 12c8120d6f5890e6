package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a SparkSession and lists the engine's
  * session confs. Every main, job and test session carries [[shared]],
  * so the tests, `Explain` and the shipped jobs plan exactly as `Bench`
  * and `Verify` time and check.
  *
  *  - [[local]]: the dev mains and the test suite, at `local[cpus]`
  *    with one shuffle partition per core and the UI off;
  *  - [[submitted]]: the shipped jobs; spark-submit provides the master.
  */
object GraftSession {

  /** Confs every session carries. */
  val shared: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // ObjectHashAggregate (udaf paths: capped_collect, mg_summary,
    // vector_mean) falls back to SORT-BASED aggregation past 128
    // distinct keys per task — a full per-task sort for aggregates
    // whose buffers here are tiny (<=64 doubles / <=capacity map
    // entries). 4096 keys x ~2 KB stays well inside task memory and
    // keeps the hash path for the 980-cluster kmeans and 2048-bucket
    // postings aggregates.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    "spark.sql.adaptive.enabled" -> "true",
    // let the planner pick shuffled-hash join when its size conditions
    // fit (build side per-partition small) instead of always
    // sort-merge: skips both sorts on keyed equi-joins whose build side
    // is bounded (dims, contractions, shortlists). r17 probe: 18/20
    // queries faster, none slower >0.02 s. Results are
    // strategy-independent; explicit merge/shuffle_hash hints in
    // operators still override per site.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // at 30× the dup-dense component chain's AQE-planned broadcast
    // builds exceed the 1g default and killed warmShared (in local mode
    // the driver merges the broadcast task results); harmless at sf0.1
    "spark.driver.maxResultSize" -> "8g",
    // the reference batch job's setting: an overwrite of partitioned
    // output replaces only the partitions it writes
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else this host's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core, the
    * UI off and WARN logging. */
  def local(appName: String, cores: Int = cpus): SparkSession = {
    val s = create(appName, Some(s"local[$cores]"),
      Seq("spark.sql.shuffle.partitions" -> cores.toString,
        "spark.ui.enabled" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session for a job launched by spark-submit, which sets the
    * master; `conf` adds the job's own settings. */
  def submitted(appName: String, conf: (String, String)*): SparkSession =
    create(appName, None, conf)

  private def create(appName: String, master: Option[String],
                     conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    (shared ++ conf).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
