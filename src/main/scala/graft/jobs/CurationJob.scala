package graft.jobs

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.GraftSession
import graft.ext.{Curation, Dedup, TextAnalysis}
import graft.stream.{ElectionStream, StreamDecontam}

/** The production curation recipe (q300's pipeline receipt) as one
  * runnable job: near-dup election → exact n-gram decontamination →
  * quality floor, with the stage-lineage receipt written NEXT TO the
  * curated output — the artifact a training-data release publishes so
  * any re-run (or auditor) can verify byte-identical stage membership
  * without row dumps.
  *
  * Two paths:
  *  - [[run]] — the batch release build: full component labelling,
  *    exact per-cluster election, broadcast-probe decontamination,
  *    one receipt.
  *  - [[incrementalSink]] — the ingest-time twin for the stream
  *    between release builds: stateless bloom decontamination
  *    ([[graft.stream.StreamDecontam]], zero state/shuffles) feeding
  *    the log-structured keep-best election
  *    ([[graft.stream.ElectionStream]]) keyed on the EXACT content
  *    hash. Near-dup clustering is not incrementally mergeable (the
  *    ElectionStream scaladoc's monoid argument), so the incremental
  *    path serves exact-dup election only; each release build re-runs
  *    [[run]] as the compaction that restores full near-dup semantics
  *    — and q309 (log-vs-exact erasure divergence) prices exactly
  *    what the log path can drift in between.
  *
  * Usage: CurationJob <docsParquet> <outDir> [benchModulus]
  * (the modulus split stands in for a real benchmark list — the
  * harness convention shared with q300).
  */
object CurationJob {

  /** The q300 gate set — the order is the receipt's stage order. */
  def gates: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "dedup_elect" -> (col("is_kept") === 1L),
    "decontam" -> (col("_contam") === 0L),
    "quality_floor" -> (col("n_tokens") >= 30 &&
      col("punct_ratio") <= 0.1 && col("stop_ratio") >= 0.05))

  /** Pure core: (curated corpus, stage-lineage receipt). `comps` is
    * the near-dup component labelling the election keys on (built by
    * [[run]]; injected here so tests and alternative labellings can
    * reuse the recipe). */
  def curate(corpus: DataFrame, benchmark: DataFrame,
             comps: DataFrame): (DataFrame, DataFrame) =
    split(corpus, gateFrame(corpus, benchmark, comps))

  /** Every corpus doc with the columns the gates read: quality
    * metrics, the election flag and the contamination flag. */
  private def gateFrame(corpus: DataFrame, benchmark: DataFrame,
                        comps: DataFrame): DataFrame = {
    val elect = Dedup.electRepresentatives(corpus, comps, col("n_chars"))
      .select(col("doc_id"), col("is_kept"))
    val flags = Curation.contamination(corpus, benchmark, n = 5)
      .select(col("doc_id"), lit(1L).as("_contam"))
    TextAnalysis.withQuality(corpus)
      .join(elect, Seq("doc_id"))
      .join(flags, Seq("doc_id"), "left")
      .withColumn("_contam", coalesce(col("_contam"), lit(0L)))
  }

  /** (docs passing every gate, stage-lineage receipt) of a gate frame. */
  private def split(corpus: DataFrame,
                    frame: DataFrame): (DataFrame, DataFrame) = {
    val receipt = Curation.stageLineage(frame, gates)
    val kept = frame.filter(gates.map(_._2).reduce(_ && _))
      .select(corpus.columns.map(col): _*)
    (kept, receipt)
  }

  /** Batch release build: read, split, label, curate, write curated
    * corpus + receipt side by side. Returns the receipt rows (tiny —
    * one per stage) for the caller's log.
    *
    * Scale: the gate frame is built ONCE and localCheckpoint'd — the
    * corpus write and the receipt both read it — and released after,
    * with the component labelling it was built from;
    * the receipt is collected once and written from those rows. The
    * component labelling finishes on the driver when its edge list is
    * small (see [[graft.ext.Dedup.components]]). */
  def run(spark: SparkSession, docsDir: String, outDir: String,
          benchModulus: Int = 31): Array[Row] = {
    val all = spark.read.parquet(docsDir)
    val corpus = all.filter(col("doc_id") % benchModulus =!= 0)
    val bench = all.filter(col("doc_id") % benchModulus === 0)
    // the q300 convention: components labelled over the FULL doc set
    val comps = Dedup.components(
      Dedup.coShinglePairs(all, minShared = 2, maxPostings = 1000))
    val frame = gateFrame(corpus, bench, comps).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val (kept, receipt) = split(corpus, frame)
    val rows = receipt.collect()
    kept.write.mode("overwrite").parquet(s"$outDir/corpus")
    spark.createDataFrame(rows.toSeq.asJava, receipt.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_receipt")
    Dedup.release(frame, comps)
    rows
  }

  /** Ingest-time incremental path: bloom-decontaminate the stream
    * (no false negatives vs the exact 5-gram pass — q61's guarantee),
    * then run the log-structured keep-best election keyed on the
    * exact content hash with payload length as preference. State
    * lives in `storePath` (the election log) — restarts and
    * redeliveries are idempotent per the ElectionStream contract. */
  def incrementalSink(docStream: DataFrame, benchmark: DataFrame,
                      storePath: String, outPath: String,
                      checkpointPath: String): DataStreamWriter[Row] = {
    val bits = StreamDecontam.bloomBits(benchmark)
    val admitted = StreamDecontam.admit(docStream, bits)
    ElectionStream.sinkElectedAvailableNow(admitted,
      keyCol = d => md5(d("text")),
      prefCol = d => length(d("text")).cast("long"),
      storePath = storePath, outPath = outPath,
      checkpointPath = checkpointPath)
  }

  def main(args: Array[String]): Unit = {
    val Array(docsDir, outDir) = args.take(2)
    val benchModulus =
      if (args.length > 2) args(2).toInt else 31
    val spark = GraftSession.submitted("graft-curation-job")
    try {
      val receipt = run(spark, docsDir, outDir, benchModulus)
      receipt.foreach(r => println(s"[curation] $r"))
    } finally spark.stop()
  }
}
