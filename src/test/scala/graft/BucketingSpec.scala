package graft

import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.io.Sinks

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("joining two same-bucketed tables plans no shuffle exchange") {
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — clear both for idempotency
    Seq("bt_a", "bt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    Sinks.bucketedTable(a, "bt_a", "k", 8)
    Sinks.bucketedTable(b, "bt_b", "k", 8)
    val joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
    // force a sort-merge path so the exchange question is real (a
    // broadcast join needs no shuffle regardless of bucketing)
    val smj = joined.hint("merge")
    val plan = smj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(smj.count() === 1000)
  }

  test("date-partitioned sink enables partition pruning on read") {
    val out = java.nio.file.Files.createTempDirectory("part_out").toString + "/daily"
    val df = Seq(
      ("2025-01-15", "A", 10.0), ("2025-01-16", "B", 20.0),
      ("2025-01-17", "C", 30.0))
      .toDF("order_date", "product", "amount")
      .withColumn("order_date", to_date(col("order_date")))
    Sinks.partitionedParquet(df, out)
    val read = spark.read.parquet(out)
      .filter(col("order_date") === "2025-01-16")
    val scan = read.queryExecution.executedPlan.toString
    // the date predicate must prune partition directories at the scan,
    // not filter rows after reading all of them
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("order_date"),
      s"no partition pruning in:\n$scan")
    assert(read.collect().map(_.getAs[String]("product")).toSeq === Seq("B"))
  }

  test("date-partitioned sink replaces only the partitions it writes, even in a static-overwrite session") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val out = java.nio.file.Files.createTempDirectory("part_over").toString + "/daily"
    def day(d: String, product: String) = s.createDataFrame(Seq((d, product, 1.0)))
      .toDF("order_date", "product", "amount")
      .withColumn("order_date", to_date(col("order_date")))
    Sinks.partitionedParquet(day("2025-01-15", "A").union(day("2025-01-16", "B")), out)
    Sinks.partitionedParquet(day("2025-01-16", "C"), out)
    assert(s.read.parquet(out).orderBy("order_date").collect()
      .map(_.getAs[String]("product")).toSeq === Seq("A", "C"))
  }

  test("survivors drops the larger id of each near-dup pair") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 4L), (2L, 4L)).toDF("doc_a", "doc_b")
    val kept = Dedup.survivors(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }
}
