package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Loaders for the driver-provided parquet star schema (TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. `/root/testdata/sf0.01`) and read
  * one parquet file per table. Explicit-path parquet reads keep partition
  * pruning / filter pushdown available to Catalyst (the reference instead
  * re-reads CSV with inferSchema each run — see SURVEY.md §4 for why we
  * deliberately do not replicate that inefficiency).
  */
object Tables {
  /** r16/r17 optimization — scale-adaptive scan parallelism (guide
    * §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read", §6 input split sizing, §2.2 "fewer,
    * larger map tasks"). The driver's testdata ships each table as ONE
    * small parquet file with one row group, so the scan yields 1
    * partition (lineitem: 3) no matter how many cores the session has
    * — which made EVERY map-side stage before the first exchange run
    * in a single task (the r16 finding). r16 spread such scans to the
    * full `defaultParallelism`; r17 measured that this OVERSHOOTS on a
    * many-core session: a 32-way spread of KB-scale partitions makes
    * every downstream exchange M×R ≈ cores² tiny shuffle blocks
    * (guide §2.2's quadratic block growth), and the suite ran ~30%
    * SLOWER at 32 cores than at 8 (BENCH_r16 390.6 s vs BENCH_r16_c8
    * 275.9 s; 295/313 queries faster on fewer cores). The r17 rule:
    *
    *   target = min(defaultParallelism,
    *                max(spreadFloor, sizeInBytes / spreadTargetBytes))
    *
    * — spread a below-parallelism scan by bytes (one task per
    * `spark.graft.spread.targetPartitionBytes`, default 16 MB), but
    * never below `spark.graft.spread.floor` (default 8) tasks, because
    * CPU-per-byte can dwarf bytes for shingle/hash/vector kernels over
    * small inputs. At deployment scale the scan already has ≥ cores
    * partitions and the branch is a no-op; a single large file spreads
    * by bytes; only tiny inputs hit the floor — the case the measured
    * optimum (8-way at sf0.1, grid in OPTIMIZATION_r17.md) pins.
    * Aggregation results are partition-count-invariant by the
    * library's integer-quantization conventions (the CPU-varied
    * forensics gate re-checks at round close). The repartition sits
    * directly above the scan, below the cache: Bench's warmTables
    * caches exactly this plan, so every consumer's plan-fragment still
    * matches the InMemoryRelation, and filters/pruning push through
    * the deterministic repartition node.
    *
    * NOTE (ordering): the round-robin spread reorders rows for every
    * consumer — safe only while consumers stay order-insensitive; an
    * order-sensitive consumer (first()/collect_list/limit without its
    * own sort) must sort explicitly. `queryExecution.toRdd` (not
    * `.rdd`) reads the partition count without planning the
    * row-encoder conversion the loader would never execute. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    val dp = spark.sparkContext.defaultParallelism
    val floor = spreadConf(spark, "spark.graft.spread.floor", 8L)
    val tgtBytes =
      spreadConf(spark, "spark.graft.spread.targetPartitionBytes", 16L << 20)
    val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes =
      (bytes / tgtBytes).min(BigInt(Int.MaxValue)).toInt
    val target = math.min(dp, math.max(floor, byBytes)).toInt
    if (raw.queryExecution.toRdd.getNumPartitions < target)
      raw.repartition(target)
    else raw
  }

  /** A spread conf: a positive integer, else an IllegalArgumentException
    * naming the key (a 0 target would divide by zero at every load). */
  private def spreadConf(spark: SparkSession, key: String,
                         default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    raw.trim.toLongOption.filter(_ >= 1L).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$raw'"))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped under two encodings across testdata
    * regenerations, so the loader dispatches on the *observed* type:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]), so `nanosAsLong` surfaces it as
    *    LongType raw nanos and we truncate to microseconds with
    *    *integer* division — `div`, not `/`, because nanos ≈ 1.7e18
    *    exceeds double's 2^53 mantissa and float division would corrupt
    *    the microseconds. Truncation (not rounding) matches how DuckDB
    *    ingests ns→us, keeping the oracle comparison exact.
    *  - timestamp[us] with isAdjustedToUTC=false: Spark infers
    *    TimestampNTZType; the cast to (session-local) TimestampType is
    *    bit-exact with the DuckDB oracle only because every entry point
    *    sets spark.sql.session.timeZone=UTC.
    *  - timestamp[us] adjusted to UTC (plain TimestampType): passthrough.
    *
    * Any OTHER type fails loudly here, naming what was observed — a
    * silent passthrough once cost a round 26 invisible query failures
    * (VERDICT round 5). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other => sys.error(
        s"Tables.events: unsupported encoding for events.ts — got $other, " +
        "expected LongType (raw nanos), TimestampNTZType, or TimestampType. " +
        "The testdata was likely regenerated with a new schema; add an " +
        "explicit case rather than letting 26 events queries fail downstream.")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
