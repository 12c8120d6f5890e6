package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ext.Dedup

/** Streaming corpus curation: the deployment mode of the incremental
  * dedup operator (q65's `Dedup.dedupAgainstStore`) — a continuously
  * ingesting document stream where every micro-batch must drop
  * documents already admitted by ANY earlier batch, and the admitted
  * set must survive restarts without re-admitting or losing documents.
  * Mirrors the reference's streaming half (streaming_sales_aggregator
  * .py:307-349: stream → cleanse → stateful transform → sink) with the
  * curation operators in the transform seat.
  *
  * Batch-N pipeline (inside one foreachBatch, so the store read, the
  * anti-join, and both writes see one consistent snapshot):
  *   cleanse (null/blank guard + trim + fold) →
  *   `dedupAgainstStore` vs the accumulated fingerprint store →
  *   survivors to `out/batch_id=N` + their fingerprints to
  *   `store/batch_id=N` (both mode=overwrite).
  *
  * RESTART IDEMPOTENCY — the part a naive compose gets wrong: if batch
  * N is re-delivered after a failure between the writes and the
  * checkpoint commit, the store already holds batch N's fingerprints,
  * so deduping against the WHOLE store would kill every row of the
  * retry and overwrite `out/batch_id=N` with nothing (silent data
  * loss). The store is therefore partitioned by the stable foreachBatch
  * batchId, and batch N dedups against `batch_id != N` only: a retry
  * recomputes the identical survivor set and harmlessly overwrites its
  * own two directories (same idempotency contract as `writeBatch`).
  *
  * Scale shape: the store side of the anti-join carries 16-byte hashes
  * only; the in-batch first-occurrence window partitions on the hash
  * (bounded by duplicate multiplicity, not corpus size). Store reads
  * prune nothing today (every batch's hashes are needed); a production
  * deployment compacts `store/` periodically — compaction is a plain
  * batch `distinct()` rewrite under a fresh batch_id floor, and does
  * not change the read path.
  */
object CurationStream {

  /** At-source ingestion dedup — `dropDuplicatesWithinWatermark` in
    * the curation seat: drops producer-retry duplicates (the same
    * doc_id re-sent within `horizon`) BEFORE any cleanse/store work.
    * This is a different dedup axis than the fingerprint store: the
    * store is CONTENT-keyed and remembers forever (file-backed), while
    * this stage is ID-keyed with state auto-expired at the watermark —
    * bounded by horizon × ingest rate, never corpus history. A retry
    * that mutated the payload (same id, edited text) slips past the
    * content store by design; only this stage catches it. Compose as
    * `sinkCurated(dedupIngest(stream), ...)`.
    *
    * Scale: the dedup state is a per-id marker with watermark TTL —
    * the Structured Streaming primitive built exactly for this; no
    * unbounded `dropDuplicates` state, no store round-trip per retry. */
  def dedupIngest(docs: DataFrame, horizon: String = "10 minutes",
                  idCol: String = "doc_id", tsCol: String = "ts"): DataFrame =
    Sessionize.dedupWithinWatermark(docs, Seq(idCol), tsCol, horizon)

  /** Stream-safe document cleanse: drop rows with null id/text, trim
    * and case/accent-fold the text (the [[graft.functions.NormalizeText]]
    * kernel — map-side, codegen), drop rows blank after trimming. */
  def cleanseDocs(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .withColumn(textCol,
        graft.functions.TextFunctions.normalize_text(trim(col(textCol))))
      .filter(col(textCol) =!= "")

  private val storeSchema = StructType(Seq(
    StructField("text_hash", StringType)))

  /** The accumulated fingerprint store MINUS `excludeBatchId`'s own
    * partition (see the idempotency note above). Empty/missing store →
    * empty frame with the store schema, so batch 0 needs no special
    * case. */
  def readStoreExcept(spark: SparkSession, storePath: String,
                      excludeBatchId: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
    if (!hasData)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storeSchema)
    else
      spark.read.option("basePath", storePath).parquet(storePath)
        .filter(col("batch_id") =!= excludeBatchId)
        .select(col("text_hash"))
  }

  /** The per-batch body, exposed (like `writeBatch`) so the redelivery
    * contract is directly testable without replaying a checkpoint. */
  def processBatch(storePath: String, outPath: String)
                  (batch: Dataset[Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val cleansed = cleanseDocs(batch.toDF())
    val seen = readStoreExcept(spark, storePath, batchId)
    // two consumers (survivor write + fingerprint write): checkpoint so
    // the anti-join runs once, not once per sink
    val survivors = Dedup.dedupAgainstStore(cleansed, seen)
      .localCheckpoint(true)
    survivors.drop("text_hash")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    survivors.select(col("text_hash")).distinct()
      .write.mode("overwrite").parquet(s"$storePath/batch_id=$batchId")
  }

  /** foreachBatch writer chaining the whole per-batch pipeline; append
    * output mode (each admitted document is emitted exactly once). */
  def sinkCurated(docs: DataFrame, storePath: String, outPath: String,
                  checkpointPath: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(storePath, outPath)(batch, batchId)
      }
      .option("checkpointLocation", checkpointPath)
}
