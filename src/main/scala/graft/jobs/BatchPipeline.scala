package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.io.{Sinks, Sources}
import graft.ops.{Aggregations, Cleansing}

/** The reference's batch ETL job (services/batch/pipeline_batch.py) as a
  * runnable Spark application:
  *
  *   wait for input CSVs → scan → cleanse (P1-P13) → daily revenue (A1)
  *   → date-partitioned parquet (S6) + KPI/daily CSVs (S7, A2) → show.
  *
  * Usage: BatchPipeline <inputDir> <parquetOut> <csvOutDir>
  * Dirty rows (unparseable dates) are counted via the observe() metric
  * and logged, matching the reference's dropped-row warning with one
  * pass instead of its extra count() jobs.
  */
object BatchPipeline {

  def run(spark: SparkSession, inputDir: String, parquetOut: String,
          csvOutDir: String, waitTimeoutSec: Int = 300): Boolean = {
    if (!Sources.waitForInputFiles(spark, inputDir,
        timeoutSeconds = waitTimeoutSec)) {
      System.err.println(s"[batch] no input files in $inputDir; giving up")
      return false
    }
    val raw = Sources.csvDir(spark, inputDir)
    if (Sources.isEmpty(raw)) {
      System.err.println("[batch] input is empty; exiting cleanly")
      return true
    }
    val clean = Cleansing.cleanseBatch(raw)
    val daily = Aggregations.dailyRevenue(clean)
    Sinks.partitionedParquet(daily, parquetOut)
    Sinks.singleCsv(daily, s"$csvOutDir/daily_product")
    val kpis = Aggregations.kpis(clean)
    Sinks.singleCsv(kpis, s"$csvOutDir/kpis")
    kpis.show(truncate = false)
    true
  }

  def main(args: Array[String]): Unit = {
    val Array(inputDir, parquetOut, csvOutDir) = args.take(3)
    val spark = GraftSession.submitted("graft-batch-pipeline")
    try {
      val ok = run(spark, inputDir, parquetOut, csvOutDir)
      if (!ok) sys.exit(1)
    } finally spark.stop()
  }
}
