package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output layer (SURVEY.md §2.1 S6-S8). */
object Sinks {

  /** Absolute local path → explicit `file://` URI (the reference's
    * helper for dodging a default-FS of HDFS, pipeline_batch.py:40-49). */
  def fileUri(path: String): String =
    if (path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*")) path
    else "file://" + new java.io.File(path).getAbsolutePath

  /** S6: hive-partitioned parquet write with dynamic partition overwrite
    * (pipeline_batch.py:215-221). The `repartition` on the partition
    * column aligns the shuffle with the output directories — one file
    * per partition instead of numShufflePartitions small files per
    * partition; downstream readers get partition pruning for free.
    * Dynamic overwrite mode only replaces the date partitions present
    * in this batch — the incremental-backfill semantics the reference
    * relies on. */
  def partitionedParquet(df: DataFrame, out: String,
                         partitionCol: String = "order_date"): Unit = {
    df.repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(out)
  }

  /** ORC sink (overwrite) — the columnar-lake counterpart of the
    * parquet sink for ORC-standardized estates; same dynamic-overwrite
    * partitioning is available through the generic writer when needed.
    * Round-trip vs the parquet truth proven by q174. */
  def orcDir(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").orc(out)

  /** S7: single-file CSV with header (pipeline_batch.py:223-237) — a
    * deliberate coalesce(1) bottleneck for the dashboard consumer; keep
    * it out of large outputs. */
  def singleCsv(df: DataFrame, out: String): Unit =
    df.coalesce(1)
      .write.mode("overwrite")
      .option("header", "true")
      .csv(fileUri(out))

  /** S9: rows → JSON records on a Kafka topic (`to_json(struct(*))` as
    * the message value) — the engine-side form of the reference's
    * producer. Requires the spark-sql-kafka connector at runtime
    * (absent in this offline environment — config-only here; the
    * record shaping itself is `gen.EventJson`, which is tested). */
  def kafkaJson(df: DataFrame, bootstrapServers: String, topic: String): Unit =
    df.selectExpr("to_json(struct(*)) AS value")
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  /** Bucketed managed table: pre-shuffles once at write time so every
    * subsequent equi-join/aggregation on `bucketCol` between tables
    * bucketed the same way runs with NO exchange — the co-located-join
    * layout for fact tables that are joined repeatedly at 100 TB scale
    * (bucket pruning applies to point predicates too). Requires a
    * warehouse (managed table), hence saveAsTable. */
  def bucketedTable(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
