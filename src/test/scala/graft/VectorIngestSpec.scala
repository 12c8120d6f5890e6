package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.stream.VectorIngest

/** The streaming ingest contracts, each on a flat and on an IVF base:
  * the streamed grown index must be bit-identical to the batch
  * `pqIndexAdd` twin, the seen-id guard must hold across batches AND
  * against the base, a redelivered batch must exclude only its own
  * partition, and the compaction crash window must be safe. An IVF
  * base's delta partition also carries the cell assignment on every
  * code row — both halves of the grown state in one atomic write — so
  * its parity covers cells/codes desync too. */
class VectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long): Array[Float] = Array(
    ((i * 37 + 11) % 17).toFloat / 17f,
    ((i * 53 + 5) % 19).toFloat / 19f,
    ((i * 71 + 3) % 23).toFloat / 23f,
    ((i * 89 + 7) % 29).toFloat / 29f)

  private def df(ids: Seq[Long]) =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def flatBuild(v: DataFrame) =
    Similarity.pqBuild(v, m = 2, dsub = 2, kCodes = 4)
  private def ivfBuild(v: DataFrame) =
    Similarity.residualPqBuild(v, nCentroids = 4, m = 2, dsub = 2, kCodes = 4)

  /** The two base kinds: (name suffix, builder). The flat kind keeps
    * each contract's plain name. */
  private val kinds: Seq[(String, DataFrame => Similarity.PqIndex)] =
    Seq("" -> flatBuild, ", on an IVF base" -> ivfBuild)

  private def search(idx: Similarity.PqIndex): Seq[String] = {
    val queries = df(Seq(0L, 5L))
    val top = idx.ivf match {
      case None => Similarity.pqAdcSearch(idx, queries, k = 4)
      case Some(_) =>
        Similarity.residualPqSearch(idx, queries, k = 4, nProbe = 2)
    }
    top.collect().map(_.toString).toSeq
  }

  private def perId(frame: DataFrame) =
    frame.groupBy(col("id")).agg(count(lit(1)).as("n")).collect()

  /** Runs `f` on a fresh index dir whose base is built from ids 0..7
    * and saved; the dir is deleted after. */
  private def withBase(build: DataFrame => Similarity.PqIndex)
                      (f: (String, Similarity.PqIndex) => Unit): Unit = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vingest").toString
    try {
      val base = build(df(0L until 8L))
      Similarity.savePqIndex(base, s"$dir/base")
      f(dir, base)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  kinds.foreach { case (on, build) =>
    test(s"streaming ingest equals the batch add twin; dups never double-count$on") {
      withBase(build) { (dir, baseIdx) =>
        // batch 0 re-sends base id 0; batch 1 re-sends batch 0's id 8 —
        // both must be dropped by the seen-id guard
        val stream = MemoryStream[(Long, Array[Float])](spark)
        val q = VectorIngest.sinkVectors(
          stream.toDF().toDF("vec_id", "embedding"),
          dir, s"$dir/ckpt").start()
        stream.addData(Seq(8L, 9L, 0L).map(i => (i, vec(i))): _*)
        q.processAllAvailable()
        stream.addData(Seq(10L, 11L, 8L).map(i => (i, vec(i))): _*)
        q.processAllAvailable()
        q.stop()

        val grown = VectorIngest.loadGrownIndex(spark, dir)
        // every id appears exactly once per subspace
        val codesPerId = perId(grown.codes)
        assert(codesPerId.length === 12)
        assert(codesPerId.forall(_.getLong(1) === 2L))
        // and, on an IVF base, exactly once in the cells frame (codes and
        // cells can never desync — one partition write carries both)
        grown.ivf.foreach { ivf =>
          val cellsPerId = perId(ivf.cells)
          assert(cellsPerId.length === 12)
          assert(cellsPerId.forall(_.getLong(1) === 1L))
        }

        // parity with the batch twin: pqIndexAdd of the fresh deltas
        val want = search(Similarity.pqIndexAdd(baseIdx, df(8L until 12L)))
        assert(search(grown) === want)

        // restart idempotency: re-delivering batch 1 recomputes the
        // identical partition — search results unchanged
        VectorIngest.processBatch(dir)(
          df(Seq(10L, 11L, 8L)), batchId = 1L)
        assert(search(VectorIngest.loadGrownIndex(spark, dir)) === want)
      }
    }

    test(s"compactDeltas: one partition after, identical search; crash window safe$on") {
      withBase(build) { (dir, _) =>
        VectorIngest.processBatch(dir)(df(Seq(8L, 9L)), batchId = 0L)
        VectorIngest.processBatch(dir)(df(Seq(10L, 11L)), batchId = 1L)
        val want = search(VectorIngest.loadGrownIndex(spark, dir))
        // simulate the crash window: compacted partition written, old
        // partitions still present — load must dedup, not double-count
        spark.read.parquet(s"$dir/delta/batch_id=0")
          .unionAll(spark.read.parquet(s"$dir/delta/batch_id=1"))
          .write.mode("overwrite")
          .parquet(s"$dir/delta/batch_id=${VectorIngest.CompactedBatchId}")
        assert(search(VectorIngest.loadGrownIndex(spark, dir)) === want)
        // full compaction: one partition left, search unchanged
        VectorIngest.compactDeltas(spark, dir)
        val parts = new java.io.File(s"$dir/delta").listFiles()
          .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
        assert(parts.toSeq ===
          Seq(s"batch_id=${VectorIngest.CompactedBatchId}"))
        assert(search(VectorIngest.loadGrownIndex(spark, dir)) === want)
        // the round-12 hazard, now impossible by construction: a stream
        // resuming AFTER compaction reuses batch id 2 (its next unused
        // id) — a fresh delta partition, NOT the compacted one, so every
        // compacted vector stays served
        VectorIngest.processBatch(dir)(df(Seq(12L)), batchId = 2L)
        val served = VectorIngest.loadGrownIndex(spark, dir).ids
          .collect().map(_.getLong(0)).sorted
        assert(served.toSeq === (0L to 12L))
        // and the reserved partition is unreachable from the batch seam
        intercept[IllegalArgumentException] {
          VectorIngest.processBatch(dir)(
            df(Seq(13L)), batchId = VectorIngest.CompactedBatchId)
        }
      }
    }

    test(s"a re-delivered batch excludes only its own partition from the seen set$on") {
      withBase(build) { (dir, _) =>
        VectorIngest.processBatch(dir)(df(Seq(8L, 9L)), batchId = 0L)
        // batch 1 contains an id batch 0 admitted — dropped
        VectorIngest.processBatch(dir)(df(Seq(9L, 10L)), batchId = 1L)
        val ids1 = spark.read.parquet(s"$dir/delta/batch_id=1")
          .filter(col("sub") === 0).select(col("id"))
          .collect().map(_.getLong(0)).sorted
        assert(ids1.toSeq === Seq(10L))
        // the RETRY of batch 0 still admits its own ids (its partition
        // is excluded from the seen set) — no silent data loss
        VectorIngest.processBatch(dir)(df(Seq(8L, 9L)), batchId = 0L)
        val ids0 = spark.read.parquet(s"$dir/delta/batch_id=0")
          .filter(col("sub") === 0).select(col("id"))
          .collect().map(_.getLong(0)).sorted
        assert(ids0.toSeq === Seq(8L, 9L))
      }
    }

    test(s"resumed stream replaying the crash-window batch interleaves safely with compaction$on") {
      // the exact interleaving the reserved negative partition id exists
      // for: the sink wrote batch 1 but the checkpoint didn't commit;
      // compaction runs; the resumed stream then replays batch 1. Two
      // orders can result, both must serve correctly.
      withBase(build) { (dir, baseIdx) =>
        VectorIngest.processBatch(dir)(df(Seq(8L, 9L)), batchId = 0L)
        VectorIngest.processBatch(dir)(df(Seq(10L, 11L)), batchId = 1L)
        val want = search(VectorIngest.loadGrownIndex(spark, dir))

        // order A — compaction COMPLETED (old partitions deleted), then
        // the replay lands: batch 1's ids are already seen inside the
        // compacted partition (its batch_id is the reserved negative id,
        // never the replayed one), so the re-created batch_id=1 partition
        // is EMPTY, not a duplicate admit
        VectorIngest.compactDeltas(spark, dir)
        VectorIngest.processBatch(dir)(df(Seq(10L, 11L)), batchId = 1L)
        val grownA = VectorIngest.loadGrownIndex(spark, dir)
        val perIdA = perId(grownA.codes)
        assert(perIdA.length === 12 && perIdA.forall(_.getLong(1) === 2L))
        assert(search(grownA) === want)

        // order B — compaction CRASHED in its window (compacted partition
        // written, old partitions NOT yet deleted — the write-first /
        // delete-last discipline makes this the only reachable partial
        // state), and the resumed stream replays batch 2 on top: every
        // row is duplicated across compacted and original partitions, and
        // the replayed batch re-admits its ids (they look unseen only
        // through its own excluded partition). The load-time (id, sub)
        // dedup must serve the identical index regardless.
        VectorIngest.processBatch(dir)(df(Seq(12L)), batchId = 2L)
        val wantB = search(VectorIngest.loadGrownIndex(spark, dir))
        val all = VectorIngest.readDeltaExcept(spark, dir, baseIdx, -1L)
          .localCheckpoint(true)
        all.write.mode("overwrite").parquet(
          s"$dir/delta/batch_id=${VectorIngest.CompactedBatchId}")
        // mid-window: batch 2's rows now live in BOTH the compacted and
        // their original partition — the (id, sub) dedup must already
        // serve each id exactly once, values identical under the frozen
        // quantizers
        val grownMid = VectorIngest.loadGrownIndex(spark, dir)
        val perIdMid = perId(grownMid.codes)
        assert(perIdMid.length === 13 && perIdMid.forall(_.getLong(1) === 2L))
        assert(search(grownMid) === wantB)
        // the replay then lands on the mid-window state: batch 2's ids
        // are seen through the compacted partition (excluded-partition
        // logic never hides the reserved id), so the rewrite empties
        // batch_id=2 instead of double-admitting
        VectorIngest.processBatch(dir)(df(Seq(12L)), batchId = 2L)
        val grownB = VectorIngest.loadGrownIndex(spark, dir)
        val perIdB = perId(grownB.codes)
        assert(perIdB.length === 13 && perIdB.forall(_.getLong(1) === 2L))
        assert(search(grownB) === wantB)
      }
    }
  }

  test("ingestParityProbe returns rows on the sf0.001 embeddings, on an IVF base") {
    val emb = spark.read.parquet(sf("embeddings"))
    val got = VectorIngest.ingestParityProbe(spark, emb, ivfBuild, k = 3,
      nProbe = 2)
    assert(got.count() > 0)
  }
}
