package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `Tables.events` must dispatch on the observed `ts` encoding — the
  * testdata has been regenerated across rounds with different parquet
  * timestamp encodings, and a silent mismatch once hid 26 query
  * failures (round-5 VERDICT). Fixtures cover every accepted encoding
  * plus the loud-failure default.
  */
class TablesSpec extends SparkSpec {

  /** Writes a one-column-plus-payload events.parquet under a fresh temp
    * sfDir and returns the sfDir path. */
  private def fixture(tsField: StructField, rows: Seq[Row]): String = {
    val dir = Files.createTempDirectory("graft-tables-spec").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType, false), tsField))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // 2025-06-01T12:00:00Z in various encodings
  private val epochMicros = 1748779200000000L

  test("events: raw int64 nanos (legacy TIMESTAMP(NANOS)) truncates to micros") {
    val dir = fixture(
      StructField("ts", LongType, false),
      // +999 ns: integer div must truncate, not round
      Seq(Row(1L, epochMicros * 1000L + 999L)))
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType)
    val ts = got.collect().head.getAs[Timestamp]("ts")
    assert(ts.getTime === epochMicros / 1000L) // ms precision check
    assert(ts.getNanos === ((epochMicros % 1000000L) * 1000L).toInt)
  }

  test("events: timestamp_ntz casts to session-zone timestamp (UTC)") {
    val dir = fixture(
      StructField("ts", TimestampNTZType, false),
      Seq(Row(1L, LocalDateTime.of(2025, 6, 1, 12, 0, 0))))
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType)
    // session tz is UTC, so wall-clock 12:00 == epoch 12:00Z exactly
    val ts = got.collect().head.getAs[Timestamp]("ts")
    assert(ts.getTime === epochMicros / 1000L)
  }

  test("events: plain timestamp passes through unchanged") {
    val dir = fixture(
      StructField("ts", TimestampType, false),
      Seq(Row(1L, new Timestamp(epochMicros / 1000L))))
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType)
    assert(got.collect().head.getAs[Timestamp]("ts").getTime
      === epochMicros / 1000L)
  }

  test("spread rule (r17): a tiny single-file scan spreads to " +
      "min(defaultParallelism, max(floor, bytes/targetPartitionBytes))") {
    val dir = fixture(
      StructField("ts", TimestampType, false),
      (1L to 64L).map(i => Row(i, new Timestamp(epochMicros / 1000L))))
    // tiny file → byBytes = 0 → floor (default 8) clamped to dp (4)
    assert(Tables.table(spark, dir, "events")
      .rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    // a floor below dp is honored as-is for a tiny input
    spark.conf.set("spark.graft.spread.floor", "2")
    try assert(Tables.table(spark, dir, "events")
      .rdd.getNumPartitions === 2)
    finally spark.conf.unset("spark.graft.spread.floor")
  }

  test("spread confs are validated: target bytes > 0, floor >= 1, " +
      "the error names the key") {
    val dir = fixture(
      StructField("ts", TimestampType, false),
      Seq(Row(1L, new Timestamp(epochMicros / 1000L))))
    for ((key, bad) <- Seq(
        "spark.graft.spread.targetPartitionBytes" -> "0",
        "spark.graft.spread.targetPartitionBytes" -> "-5",
        "spark.graft.spread.floor" -> "0",
        "spark.graft.spread.floor" -> "-1",
        "spark.graft.spread.floor" -> "eight")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          Tables.table(spark, dir, "events"))
        assert(e.getMessage.contains(key), s"$key=$bad")
      } finally spark.conf.unset(key)
    }
    // the smallest valid values load
    spark.conf.set("spark.graft.spread.targetPartitionBytes", "1")
    spark.conf.set("spark.graft.spread.floor", "1")
    try assert(Tables.table(spark, dir, "events").count() === 1L)
    finally {
      spark.conf.unset("spark.graft.spread.targetPartitionBytes")
      spark.conf.unset("spark.graft.spread.floor")
    }
  }

  test("events: an unexpected ts type fails loudly, naming the type") {
    val dir = fixture(
      StructField("ts", StringType, false),
      Seq(Row(1L, "2025-06-01 12:00:00")))
    val e = intercept[RuntimeException](Tables.events(spark, dir))
    assert(e.getMessage.contains("StringType"))
    assert(e.getMessage.contains("events.ts"))
  }
}
