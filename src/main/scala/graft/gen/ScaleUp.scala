package graft.gen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Dev utility: materialize an N× perturbed replication of a testdata
  * scale factor for scale-regression runs (the "sf1-equivalent" bench).
  * `runMain graft.gen.ScaleUp <srcSfDir> <outDir> [reps]`.
  *
  * Replication preserves the join topology (orderkey FKs remapped
  * consistently across orders/lineitem) and perturbs each replica so
  * dedup/ANN ops see near- but not exact duplicates (text " repN"
  * suffix, embedding dim-0 nudge, event time shift) — the adversarial
  * duplicate-dense shape, same rationale as ScaleProbe's fixtures.
  * Dimension tables (region/nation/customer/supplier/part) copy
  * unscaled, as in a production star schema where facts outgrow dims.
  *
  * Events are written with the CURRENT loader-visible timestamp type
  * (plain timestamp after `Tables.events` normalization), so the
  * output dir round-trips through the same type-dispatch path as the
  * driver testdata regardless of which parquet encoding that testdata
  * shipped with this round.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1eq")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local("graft-scale-up")

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(reps).toDF("rep"))

    // dims: copied unscaled
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(Tables.table(spark, src, t), t)
    }
    val r = col("rep")
    write(rep(Tables.orders(spark, src))
      .withColumn("o_orderkey", col("o_orderkey") * reps + r)
      .drop("rep"), "orders")
    write(rep(Tables.lineitem(spark, src))
      .withColumn("l_orderkey", col("l_orderkey") * reps + r)
      .drop("rep"), "lineitem")
    write(rep(Tables.events(spark, src))
      .withColumn("event_id", col("event_id") * reps + r)
      .withColumn("ts", expr("timestampadd(HOUR, CAST(rep AS INT), ts)"))
      .drop("rep"), "events")
    write(rep(Tables.documents(spark, src))
      .withColumn("doc_id", col("doc_id") * reps + r)
      .withColumn("text", concat(col("text"), lit(" rep"), r))
      .drop("rep"), "documents")
    // full-dimension deterministic jitter (±0.3/dim, ~10-40% relative
    // on unit-ish 64-dim vectors), rep 0 kept verbatim: replicas are
    // DISTINCT vectors near the original, not 10 exact near-copies per
    // centroid bucket. A dim-0-only nudge (the round-5 form) makes
    // every IVF/LSH bucket 10× denser with mutual near-dups and the
    // blocked ANN ops go quadratic IN THE ARTIFACT, not in anything a
    // real 10× corpus does — q95 read 104× at 10× under that shape.
    write(rep(Tables.embeddings(spark, src))
      .withColumn("embedding",
        when(r === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => (x +
              (pmod(xxhash64(col("vec_id") * 1000 + r * 64 + i), lit(6001))
                .cast("float") - lit(3000f)) * lit(0.0001f)).cast("float"))))
      .withColumn("vec_id", col("vec_id") * reps + r)
      .drop("rep"), "embeddings")
    spark.stop()
  }
}
