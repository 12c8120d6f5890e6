package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.ext.Similarity

/** Streaming vector ingestion into a persisted PQ index — the
  * deployment mode of the frozen-quantizer add (q198/q202's
  * [[graft.ext.Similarity.pqIndexAdd]]): a continuously arriving
  * embedding stream where every micro-batch must be encoded against
  * the FROZEN quantizers of a stored base index and appended as codes,
  * with ids already indexed by the base or by ANY earlier batch
  * dropped (a re-sent vector must never double-count in downstream
  * ADC sums), and the grown index must survive restarts without
  * re-admitting or losing vectors. The streaming twin of the batch
  * build→add lifecycle, mirroring [[CurationStream]]'s store layout.
  * One object serves both index kinds: the delta schema, the seen-id
  * set and the grown index follow the base's `ivf` (an IVF base
  * coarse-assigns each batch against its FROZEN stored seeds and
  * recentres on its FROZEN cell means before encoding).
  *
  * Layout under `indexDir`:
  *   base/   — a [[graft.ext.Similarity.savePqIndex]] artifact
  *             (codes + codebooks + geometry, plus cells + recenter +
  *             coarse for an IVF base), written ONCE by the training
  *             job;
  *   delta/batch_id=N/ — batch N's fresh-id codes (id, sub, code); an
  *             IVF base adds `centroid_id` to every code row (the
  *             sub = 0 slice recovers the cells frame), so ONE
  *             partition write captures both halves of the grown state
  *             atomically — a separate cells store could crash out of
  *             sync with its codes.
  *
  * Batch-N pipeline (inside one foreachBatch, so the seen-id read and
  * the code write see one consistent snapshot): seen = base ids ∪
  * delta ids of batch_id ≠ N → left-anti the batch → frozen-quantizer
  * encode ([[graft.ext.Similarity.pqEncodeFresh]]) → overwrite
  * `delta/batch_id=N`.
  *
  * RESTART IDEMPOTENCY — the CurationStream contract: if batch N is
  * re-delivered after a failure between the write and the checkpoint
  * commit, deduping against the WHOLE delta store would drop every
  * row of the retry and overwrite batch N's partition with nothing.
  * Excluding batch N's own partition from the seen set makes the
  * retry recompute the identical code set and harmlessly overwrite
  * its own directory.
  *
  * Scale shape: the seen side of the anti-join carries ids only (the
  * sub=0 slice of the skinny codes — 16 bytes a row); the encode is
  * O(batch) against the kilobyte broadcast codebooks; nothing ever
  * rewrites the base or earlier batches (the q198 delta-only-cost
  * contract, now also the on-disk layout). Serving jobs
  * [[loadGrownIndex]] the artifact: base + every delta partition, a
  * lazy union of parquet reads.
  */
object VectorIngest {

  /** All delta-partition rows EXCEPT `excludeBatchId`'s own (pass -1
    * to read everything), in `base`'s delta schema: (id, sub, code),
    * plus `centroid_id` for an IVF base. Empty/missing delta dir →
    * empty frame with that schema, so batch 0 needs no special case. */
  def readDeltaExcept(spark: SparkSession, indexDir: String,
                      base: Similarity.PqIndex,
                      excludeBatchId: Long): DataFrame = {
    val schema = StructType.fromDDL("id BIGINT, sub INT, code BIGINT" +
      base.ivf.fold("")(_ => ", centroid_id BIGINT"))
    val deltaPath = s"$indexDir/delta"
    val p = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
    if (!hasData)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.option("basePath", deltaPath).parquet(deltaPath)
        .filter(col("batch_id") =!= excludeBatchId)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The per-batch body, exposed (the [[CurationStream.processBatch]]
    * seam) so the redelivery contract is directly testable without
    * replaying a checkpoint. */
  def processBatch(indexDir: String)
                  (batch: Dataset[Row], batchId: Long): Unit = {
    // Structured Streaming batch ids are non-negative by contract;
    // enforcing it here keeps the reserved [[CompactedBatchId]]
    // partition unreachable from ANY caller of this seam.
    require(batchId >= 0, s"stream batch ids are non-negative: $batchId")
    val spark = batch.sparkSession
    val base = Similarity.loadPqIndex(spark, s"$indexDir/base")
    val seenIds = base.ids
      .unionAll(readDeltaExcept(spark, indexDir, base, batchId)
        .filter(col("sub") === 0).select(col("id")))
    Similarity.pqEncodeFresh(base, batch.toDF(), seenIds)
      .write.mode("overwrite")
      .parquet(s"$indexDir/delta/batch_id=$batchId")
  }

  /** The served artifact: the stored base plus every delta partition's
    * codes (and, for an IVF base, cell assignments) — bit-identical
    * search results to the batch-built
    * [[graft.ext.Similarity.pqIndexAdd]] twin over the same fresh
    * vectors (spec-pinned parity). Delta rows are deduped on
    * (id, sub) at load: normally a no-op (the ingest guard keeps ids
    * disjoint), it exists to make [[compactDeltas]]'s crash window
    * safe — a compacted copy plus not-yet-deleted originals would
    * otherwise double-count in every ADC sum. Dedup is harmless even
    * then: frozen quantizers make any two rows for the same (id, sub)
    * identical, so which copy survives is irrelevant. */
  def loadGrownIndex(spark: SparkSession, indexDir: String)
      : Similarity.PqIndex = {
    val base = Similarity.loadPqIndex(spark, s"$indexDir/base")
    base.grown(readDeltaExcept(spark, indexDir, base, -1L)
      .dropDuplicates("id", "sub"))
  }

  /** The partition id compaction rewrites into. RESERVED and
    * out-of-band by construction: Structured Streaming batch ids are
    * non-negative, so no resumed stream's [[processBatch]] can ever
    * target (and mode-overwrite) this partition. It is deliberately
    * NOT -1, which [[readDeltaExcept]] uses as its read-all sentinel —
    * a compacted store must always be read. Round-12 postmortem: the
    * previous caller-supplied `intoBatchId` invited exactly the
    * collision this constant forbids — "the stream's next-unused id"
    * is the id the next micro-batch receives when the stream resumes
    * from its checkpoint, and its overwrite would have silently
    * dropped every compacted vector from the served index. */
  val CompactedBatchId: Long = -2L

  /** Compact every delta partition into ONE reserved partition
    * (`batch_id=` [[CompactedBatchId]]) — the maintenance job both
    * streaming stores need eventually: k micro-batches leave k small
    * partitions, and the serve-time union reads k directories (at
    * high trigger rates, thousands of tiny files). One batch rewrite
    * restores O(1) read fan-out without touching the base or the
    * quantizer; the read path is unchanged (the CurationStream
    * compaction contract), and because the target id is negative it
    * can never collide with a future stream batch — compaction is
    * safe to run even while the stream is live (the write itself is
    * still best run in a quiet window so the pinned snapshot isn't
    * missing an in-flight batch; a missed batch survives either way —
    * its partition is not in `old` at list time only if it appeared
    * after, in which case it is simply not deleted).
    *
    * Crash safety, in order: the combined codes are pinned BEFORE any
    * write; the compacted partition is written first; the obsolete
    * partitions are deleted last. A crash between the write and the
    * deletes leaves duplicates on disk — which [[loadGrownIndex]]'s
    * (id, sub) dedup serves correctly — and re-running compaction
    * completes the deletes. A retry of a PRE-compaction batch (only
    * possible with a rolled-back checkpoint) finds its ids already in
    * the compacted partition and harmlessly writes an empty one: the
    * codes live on in the compacted copy, nothing is lost. */
  def compactDeltas(spark: SparkSession, indexDir: String): Unit = {
    val base = Similarity.loadPqIndex(spark, s"$indexDir/base")
    val all = readDeltaExcept(spark, indexDir, base, -1L)
      .dropDuplicates("id", "sub")
      .localCheckpoint(true)
    val deltaPath = new org.apache.hadoop.fs.Path(s"$indexDir/delta")
    val fs = deltaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old =
      if (!fs.exists(deltaPath)) Array.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(deltaPath).map(_.getPath)
        .filter(p => p.getName.startsWith("batch_id=") &&
          p.getName != s"batch_id=$CompactedBatchId")
    all.write.mode("overwrite")
      .parquet(s"$indexDir/delta/batch_id=$CompactedBatchId")
    old.foreach(p => fs.delete(p, true))
  }

  /** foreachBatch writer chaining the per-batch encode; append output
    * mode (each fresh vector's codes are emitted exactly once). */
  def sinkVectors(vectors: DataFrame, indexDir: String,
                  checkpointPath: String): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(indexDir)(batch, batchId)
      }
      .option("checkpointLocation", checkpointPath)

  /** Stream↔batch parity as an ORACLE row (the q193 pattern applied to
    * vector ingestion): trains the base index with `build` on the 80%
    * cohort (vec_id % 5 ≠ 0), ingests the 20% delta through a REAL
    * foreachBatch stream in two micro-batches — the second RE-SENDING
    * one of the first's ids, so the seen-id guard is exercised on the
    * wire — then searches the grown ON-DISK artifact: top-`k` by
    * [[graft.ext.Similarity.pqAdcSearch]] for a flat base,
    * [[graft.ext.Similarity.residualPqSearch]] at `nProbe` for an IVF
    * one. The result must be bit-identical to the batch-built
    * [[graft.ext.Similarity.pqIndexAdd]] twin, so the DuckDB oracle is
    * q198's (flat, q220) or q202's (IVF, q226) frozen-add replay
    * VERBATIM: any stream-path divergence (lost batch, double-admitted
    * id, desynced cells/codes, codec drift) reds the row.
    *
    * The delta collect is the sanctioned fixture-sized parity-probe
    * class (the Sessionize.horizonParityProbe allowance) — MemoryStream
    * feeds from driver rows by construction; the stream itself runs in
    * an isolated 1-shuffle-partition session so state/exchange init
    * costs stay off the probe (the q193 lesson). */
  def ingestParityProbe(spark: SparkSession, emb: DataFrame,
                        build: DataFrame => Similarity.PqIndex,
                        k: Int = 5, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vingest_probe").toString
    try {
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      Similarity.savePqIndex(build(base), s"$dir/base")
      val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val (b0, b1) = delta.partition(_._1 % 10 == 0)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "1")
      val input = MemoryStream[(Long, Array[Float])](ss)
      val q = sinkVectors(input.toDF().toDF("vec_id", "embedding"),
        dir, s"$dir/ckpt").start()
      try {
        input.addData(b0.toSeq: _*)
        q.processAllAvailable()
        // re-send one admitted id alongside the second batch
        input.addData((b1 ++ b0.take(1)).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val grown = loadGrownIndex(spark, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val top = grown.ivf match {
        case None => Similarity.pqAdcSearch(grown, queries, k)
        case Some(_) =>
          Similarity.residualPqSearch(grown, queries, k, nProbe)
      }
      // eager pin BEFORE the temp artifact is deleted
      top.localCheckpoint(true)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }
}
