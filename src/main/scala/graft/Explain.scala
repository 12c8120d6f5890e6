package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: dump the formatted physical plan of each named query (or
  * all) for plan-quality review — pushed filters, broadcast joins,
  * WholeStageCodegen spans. `runMain graft.Explain <sfDir> [q...]`.
  * Exits 1 if any requested plan could not be produced, so an empty
  * dump never passes for a plan. */
object Explain {

  /** The formatted physical plan of query `name`. Throws if the query is
    * unknown or its plan comes out empty. */
  def plan(spark: SparkSession, sfDir: String, name: String): String = {
    val query = SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"unknown query: $name"))
    val text = query(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (text.trim.isEmpty)
      throw new IllegalStateException(s"empty plan for $name")
    text
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_CPUS widens the session so plans show the
    // session-width-dependent shapes (scan spread, shuffle partitions)
    val spark = GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val failed = names.filterNot { n =>
      println(s"\n========== $n ==========")
      try { println(plan(spark, sfDir, n)); true }
      catch { case e: Throwable =>
        System.err.println(s"[explain] $n failed: $e")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
