package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.ext.Similarity.PqIndex

/** PQ training has two paths: a corpus whose subvector frame fits the
  * broadcast threshold trains and encodes on the driver, a larger one
  * runs the distributed passes. Both must give the same codes,
  * codebooks, recentring means and schemas, and each must leave
  * pinned only the checkpoints its index reads. */
class PqTrainPathsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = new java.io.File(sf("embeddings")).getParent
  private lazy val emb = Tables.embeddings(spark, dir)

  // elements near the 1e-6 grid midlines, where a rounding that
  // differed between the paths would show
  private lazy val hostile: DataFrame = (0L until 48L).map { i =>
    (i, Array.tabulate(8)(d => ((i * 37 + d * 101) % 1000).toFloat / 1000f +
      0.0000005f * ((i + d) % 3).toFloat))
  }.toDF("vec_id", "embedding")

  /** Every column cast to string, rows sorted: doubles compare by
    * their exact shortest representation. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.toIndexedSeq.map(c => col(c).cast("string")): _*)
      .collect().map(_.toString).toSeq.sorted

  private def trainedLocally(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private def contents(ix: PqIndex) =
    (rows(ix.codes), rows(ix.cents), ix.ivf.map(i => rows(i.recenter)),
      ix.codes.schema, ix.cents.schema, ix.ivf.map(_.recenter.schema))

  private def assertSamePaths(build: => PqIndex): Unit = {
    val (l, d) = onBothPaths {
      val ix = build
      (contents(ix), trainedLocally(ix.codes))
    }
    assert(l._2, "the small corpus did not train on the driver")
    assert(!d._2, "a disabled threshold still trained on the driver")
    assert(l._1 === d._1)
  }

  test("Round6 equals Spark's round(_, 6) bit for bit") {
    val rnd = new scala.util.Random(7)
    val mids = (0 until 200).flatMap { _ =>
      val x = (rnd.nextInt(2000000) - 1000000 + 0.5) / 1e6
      Seq(x, math.nextUp(x), math.nextDown(x))
    }
    val xs = mids ++ Seq.fill(200)(rnd.nextGaussian() * 10) ++
      Seq.fill(50)(rnd.nextDouble() * 1e9) ++
      Seq(0.0, -0.0, -4e-7, 999.9999995, 1000.0000005, -2.5e-6,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val spark6 = xs.toDF("x").select(round(col("x"), 6)).collect()
      .map(_.getDouble(0))
    xs.zip(spark6).foreach { case (x, want) =>
      assert(java.lang.Double.compare(functions.Round6(x), want) === 0,
        s"round($x, 6)")
    }
  }

  test("pqEncode: both training paths give the same codes and schema") {
    Seq((emb, 16, 4, 32, 1), (hostile, 2, 4, 4, 2), (hostile, 4, 2, 3, 0))
      .foreach { case (e, m, dsub, k, iters) =>
        val (l, d) = onBothPaths {
          val codes = Similarity.pqEncode(e, m, dsub, k, iters)
          (rows(codes), codes.schema)
        }
        assert(l === d, s"m=$m dsub=$dsub k=$k iters=$iters")
      }
  }

  test("pqBuild: both training paths give the same codes, codebooks " +
      "and schemas") {
    assertSamePaths(Similarity.pqBuild(emb, m = 16, dsub = 4, kCodes = 32,
      iters = 1))
    assertSamePaths(Similarity.pqBuild(hostile, m = 2, dsub = 4,
      kCodes = 4, iters = 2))
    assertSamePaths(Similarity.pqBuild(hostile, m = 2, dsub = 4,
      kCodes = 4, iters = 0))
  }

  test("input the driver replay does not cover trains distributed: " +
      "a repeated id, a null vector, a null element, ragged vectors") {
    val corpora = Seq(
      "repeated id" -> hostile.unionAll(hostile.filter(col("vec_id") === 5L)),
      "null vector" -> hostile.unionAll(Seq((100L, null: Array[Float]))
        .toDF("vec_id", "embedding")),
      "null element" -> hostile.unionAll(
        Seq((100L, Array[java.lang.Float](0.5f, null, 0.25f, 0.1f,
          0.2f, 0.3f, 0.4f, 0.6f))).toDF("vec_id", "embedding")),
      "ragged" -> hostile.unionAll(Seq((100L, Array(0.5f, 0.25f, 0.1f)))
        .toDF("vec_id", "embedding")))
    corpora.foreach { case (name, e) =>
      val (l, d) = onBothPaths {
        val codes = Similarity.pqEncode(e, 2, 4, 4, 1)
        val ix = Similarity.pqBuild(e, m = 2, dsub = 4, kCodes = 4, iters = 1)
        (rows(codes), codes.schema, contents(ix), trainedLocally(ix.codes))
      }
      assert(!l._4, s"$name: trained on the driver")
      assert(l === d, name)
    }
  }

  test("the fetch bound counts every double of a subvector") {
    // 48 one-subvector rows of 8 doubles: 48 × (12 + 8·8) = 3,648
    // bytes, where Spark's defaultSize (an array as one element) would
    // count 48 × 20 = 960
    def local(bytes: Long) = withBroadcastThreshold(bytes)(trainedLocally(
      Similarity.pqBuild(hostile, m = 1, dsub = 8, kCodes = 4).codes))
    assert(!local(3647L))
    assert(local(3648L))
  }

  test("residualPqBuild: both training paths give the same codes, " +
      "codebooks, recentring means and schemas") {
    assertSamePaths(Similarity.residualPqBuild(emb, nCentroids = 16,
      m = 16, dsub = 4, kCodes = 32, iters = 1))
    assertSamePaths(Similarity.residualPqBuild(hostile, nCentroids = 4,
      m = 2, dsub = 4, kCodes = 4, iters = 2))
  }

  test("q229 gives the same row on both training paths") {
    val (l, d) = onBothPaths(rows(
      SparkEntry.queries("q229_opq_perm_uplift")(spark, dir)))
    assert(l === d)
  }

  test("PQ builds keep pinned only the checkpoints their index reads, " +
      "on both paths") {
    val sc = spark.sparkContext
    def readBy(ix: PqIndex): Set[Int] =
      (Seq(ix.codes, ix.cents) ++
        ix.ivf.toSeq.flatMap(i => Seq(i.coarse, i.recenter, i.cells)))
        .flatMap(_.queryExecution.logical.collect {
          case r: LogicalRDD => r.rdd.id
        }).toSet
    def pinned(build: => PqIndex): (Set[Int], Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val ix = build
      (sc.getPersistentRDDs.keySet.toSet -- before, readBy(ix))
    }
    Seq[(String, () => PqIndex)](
      "flat" -> (() => Similarity.pqBuild(hostile, m = 2, dsub = 4,
        kCodes = 4, iters = 2)),
      "flat, iters = 0" -> (() => Similarity.pqBuild(hostile, m = 2,
        dsub = 4, kCodes = 4, iters = 0)),
      "IVF" -> (() => Similarity.residualPqBuild(hostile, nCentroids = 4,
        m = 2, dsub = 4, kCodes = 4, iters = 2)))
      .foreach { case (kind, build) =>
        val (l, d) = onBothPaths(pinned(build()))
        assert(l._1.subsetOf(l._2), s"$kind, driver: ${l._1 -- l._2} not read")
        assert(d._1.subsetOf(d._2),
          s"$kind, distributed: ${d._1 -- d._2} not read")
        assert(d._1.nonEmpty, s"$kind, distributed: nothing pinned")
      }
    // the driver-trained flat index is local relations only
    assert(onBothPaths(pinned(Similarity.pqBuild(hostile, m = 2, dsub = 4,
      kCodes = 4)))._1._1.isEmpty)
  }

  test("pqEncodeFresh anti-joins a bounded seen-id set by broadcast") {
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val ix = distributed(Similarity.pqBuild(base, m = 16, dsub = 4,
      kCodes = 32, iters = 1))
    // the seen side is a checkpoint, the shape whose shuffled join
    // planned differently run to run; a re-sent id must still drop
    val fresh = Similarity.pqEncodeFresh(ix,
      delta.unionAll(base.filter(col("vec_id") === 1L)), ix.ids)
    val ids = fresh.select(col("id")).distinct().collect().map(_.getLong(0))
    assert(ids.length.toLong === delta.count())
    assert(!ids.contains(1L))
    val plan = fresh.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
