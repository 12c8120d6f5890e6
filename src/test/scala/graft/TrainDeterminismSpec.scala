package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Train-twice determinism: every TRAINED model value (k-means
  * centroids, PQ codebooks, residual recenter means) must be
  * bit-identical no matter how the input is partitioned — i.e. no
  * matter in which order aggregation partials reduce and merge.
  *
  * Round-12 postmortem: `VectorMean` summed IEEE doubles in
  * task-completion order, so a mean within an ulp of its 6-dp rounding
  * boundary flipped between runs; the whole-corpus error-sum gates
  * (q199/q204/q214) red-hashed intermittently while every search-tail
  * query absorbed the flip (rank-robust). `VectorMicroMean` pins each
  * element to an integer micro BEFORE aggregation and sums exact
  * Longs, making the reduction associative-commutative in exact
  * arithmetic. These suites re-train under adversarially different
  * partitionings (1 partition = one sequential fold vs 7 = many
  * merge orders) and assert the trajectories collide bit-for-bit —
  * so a regression of this class fails `sbt test` instead of
  * surfacing once per round as a driver-roll flake.
  */
class TrainDeterminismSpec extends SparkSpec {
  import spark.implicits._

  // deliberately boundary-hostile embeddings: elements land NEAR the
  // 1e-6 grid midlines (x.xxxxxx5-ish values), where a float-summed
  // mean is most likely to straddle a rounding boundary across orders
  private lazy val emb: DataFrame = {
    val rows = (0L until 48L).map { i =>
      val v = Array.tabulate(8) { d =>
        (((i * 37 + d * 101) % 1000).toFloat / 1000f +
          0.0000005f * ((i + d) % 3).toFloat)
      }
      (i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def parts(df: DataFrame, n: Int): DataFrame = df.repartition(n)

  private def dump(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("kmeansCentroids trains bit-identically across partitionings") {
    val a = dump(Similarity.kmeansCentroids(parts(emb, 1), k = 4, iters = 2)
      .select(col("c_id"), col("cv").cast("string")))
    val b = dump(Similarity.kmeansCentroids(parts(emb, 7), k = 4, iters = 2)
      .select(col("c_id"), col("cv").cast("string")))
    assert(a === b)
  }

  test("pqBuild codebooks AND codes are bit-identical across partitionings") {
    val ia = Similarity.pqBuild(parts(emb, 1), m = 2, dsub = 4, kCodes = 4)
    val ib = Similarity.pqBuild(parts(emb, 7), m = 2, dsub = 4, kCodes = 4)
    assert(dump(ia.cents.select(col("sub"), col("c_id"),
        col("cv").cast("string"))) ===
      dump(ib.cents.select(col("sub"), col("c_id"),
        col("cv").cast("string"))))
    assert(dump(ia.codes) === dump(ib.codes))
  }

  test("residualPqBuild recenter means and codebooks are bit-identical") {
    val ia = Similarity.residualPqBuild(parts(emb, 1), nCentroids = 4,
      m = 2, dsub = 4, kCodes = 4)
    val ib = Similarity.residualPqBuild(parts(emb, 7), nCentroids = 4,
      m = 2, dsub = 4, kCodes = 4)
    assert(dump(ia.ivf.get.recenter.select(col("c_id"), col("mv").cast("string"))) ===
      dump(ib.ivf.get.recenter.select(col("c_id"), col("mv").cast("string"))))
    assert(dump(ia.cents.select(col("sub"), col("c_id"),
        col("cv").cast("string"))) ===
      dump(ib.cents.select(col("sub"), col("c_id"),
        col("cv").cast("string"))))
    assert(dump(ia.codes) === dump(ib.codes))
  }

  test("drift/retrain gate rows replay identically run-over-run") {
    // the exact q199/q204/q214 shapes: 80%-base build, 20% delta adds,
    // error-sum gates — run the whole pipeline TWICE from differently
    // partitioned inputs and compare the gate rows bit-for-bit
    def gateRows(src: DataFrame): Seq[String] = {
      val base = src.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = src.filter(pmod(col("vec_id"), lit(5)) === 0)
      val grown = Similarity.pqIndexAdd(
        Similarity.pqBuild(base, m = 2, dsub = 4, kCodes = 4), delta)
      val retrained = Similarity.pqBuild(src, m = 2, dsub = 4, kCodes = 4)
      val drift = Similarity.pqDriftStats(grown, src,
        when(pmod(col("vec_id"), lit(5)) === 0, "delta").otherwise("base"))
      val benefit = Similarity.pqRetrainBenefitStats(grown, retrained, src)
      dump(drift) ++ dump(benefit)
    }
    assert(gateRows(parts(emb, 1)) === gateRows(parts(emb, 7)))
  }

  test("ivfAssign cell assignment is bit-identical across partitionings") {
    // the ASSIGNMENT layer explicitly (r13 ask #7): the argmin over
    // rounded cosines is where a boundary flip would land even with
    // bit-stable centroids — seeds here are the smallest-id vectors,
    // so only the per-vector assignment can vary, and must not
    def cells(n: Int): Seq[String] = dump(
      Similarity.ivfAssign(parts(emb, n), nCentroids = 4, nAssign = 2)
        .select(col("id"), col("centroid_id")))
    assert(cells(1) === cells(7))
  }

  test("pinnedBruteTopK rank membership is bit-identical across partitionings") {
    // the de-floated yardstick (q233's exact side): rank keys are
    // correctly-rounded IEEE ops over exact integer micros, so the
    // emitted (qid, cid, rank) set must be partitioning-independent
    def ranks(n: Int): Seq[String] = dump(
      Similarity.pinnedBruteTopK(parts(emb, n),
        emb.filter(col("vec_id") < 4), k = 3))
    assert(ranks(1) === ranks(7))
  }

  test("filteredSearchRecallStats gate row replays identically") {
    // the q233 shape end-to-end: recall COUNTS are set-membership
    // functions, the class where one ulp at a rank boundary flips the
    // output integer — the whole chain must be partitioning-free
    def gate(n: Int): Seq[String] = dump(
      Similarity.filteredSearchRecallStats(parts(emb, n),
        emb.filter(col("vec_id") < 4),
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), k = 3,
        nCentroids = 4, nProbe = 2))
    assert(gate(1) === gate(7))
  }

  test("vector_micro_mean is order-free where vector_mean is not guaranteed") {
    // the primitive-level contract: same group, 1 vs 7 partitions,
    // identical emitted means (already on the 6-dp grid — no post-round)
    def mean(n: Int): Seq[String] = dump(
      parts(emb, n)
        .select(lit(1).as("g"),
          Similarity.asDouble(col("embedding")).as("v"))
        .groupBy(col("g"))
        .agg(graft.functions.VectorAggregates.vector_micro_mean(col("v"))
          .as("mv"))
        .select(col("mv").cast("string")))
    assert(mean(1) === mean(7))
  }
}
