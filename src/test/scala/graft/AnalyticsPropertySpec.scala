package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.{Curation, Dedup, Profiling}
import graft.ops.Behavior

/** Property tests for the analytics/diagnostics tier: invariants that
  * must hold for EVERY input, not just the oracle fixture. Raw
  * ScalaCheck generators with fixed seeds (the scalatest-scalacheck
  * bridge artifact is not in the offline dependency set).
  */
class AnalyticsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail(s"generator failed for seed $seed"))

  test("keySkew invariants: gini in [0,1), shares ordered, totals conserved") {
    val keysGen = Gen.nonEmptyListOf(Gen.choose(1, 30))
    (1L to 6L).foreach { seed =>
      val keys = sample(keysGen, seed)
      val r = Profiling.keySkew(keys.toDF("k"), "k").collect().head
      val (nKeys, nRows) = (r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"))
      assert(nRows === keys.size.toLong, s"seed $seed")
      assert(nKeys === keys.distinct.size.toLong, s"seed $seed")
      val gini = r.getAs[Double]("gini")
      assert(gini >= 0.0 && gini < 1.0, s"seed $seed gini $gini")
      val top1 = r.getAs[Double]("top1_share")
      val top10 = r.getAs[Double]("top10_share")
      assert(top1 <= top10 + 1e-9 && top10 <= 1.0 + 1e-9, s"seed $seed")
      // the hottest key carries at least the mean share
      assert(top1 >= 1.0 / nKeys - 1e-6, s"seed $seed")
    }
  }

  test("kAnonymity invariants: risk bounded by totals, k=1 audits clean") {
    val rowsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 3)))
    (1L to 6L).foreach { seed =>
      val rows = sample(rowsGen, seed)
      val df = rows.toDF("x", "y")
      val r = Curation.kAnonymity(df, Seq("x", "y"), k = 3).collect().head
      assert(r.getAs[Long]("n_rows") === rows.size.toLong)
      assert(r.getAs[Long]("n_rows_at_risk") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_violating_combos") <= r.getAs[Long]("n_combos"))
      assert(r.getAs[Long]("min_combo_size") >= 1L)
      // every combo trivially satisfies k=1 (counts are >= 1)
      val clean = Curation.kAnonymity(df, Seq("x", "y"), k = 1).collect().head
      assert(clean.getAs[Long]("n_rows_at_risk") === 0L)
    }
  }

  test("wilsonRate invariants: lo <= rate <= hi, bounds inside [0, 1e6]") {
    val evGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 8L), Gen.oneOf("view", "purchase")))
    (1L to 6L).foreach { seed =>
      val rows = sample(evGen, seed)
        .map { case (u, t) =>
          (u, t, java.sql.Timestamp.valueOf("2025-01-01 10:00:00")) }
      val got = Behavior.wilsonRate(rows.toDF("user_id", "event_type", "ts"),
        "purchase", Seq("view", "purchase")).collect()
      got.foreach { r =>
        val (lo, rate, hi) = (r.getAs[Long]("lo_micro"),
          r.getAs[Long]("rate_micro"), r.getAs[Long]("hi_micro"))
        assert(lo <= rate && rate <= hi, s"seed $seed user ${r.getLong(0)}")
        assert(lo >= 0L && hi <= 1000000L, s"seed $seed")
        assert(r.getAs[Long]("s") <= r.getAs[Long]("n"))
      }
    }
  }

  test("clusterWeights invariants: membership partition, cluster mass ~1e6") {
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(1L, 15L), Gen.choose(1L, 15L)))
      .map(_.filter { case (a, b) => a < b })
    (1L to 6L).foreach { seed =>
      val edges = sample(edgeGen, seed)
      val docs = (1L to 15L).map((_, "t")).toDF("doc_id", "text")
      val comps =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "component")
        else Dedup.components(edges.toDF("doc_a", "doc_b"))
      val got = Dedup.clusterWeights(docs, comps).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.length === 15, s"seed $seed") // one row per doc, no dupes
      got.foreach { case (_, _, csize, w) =>
        assert(csize >= 1L && w >= 1L && w <= 1000000L, s"seed $seed")
      }
      // each cluster's total mass is one doc's worth, ± per-member rounding
      got.groupBy(_._2).foreach { case (comp, members) =>
        val mass = members.map(_._4).sum
        assert(math.abs(mass - 1000000L) <= members.size,
          s"seed $seed component $comp mass $mass")
      }
    }
  }

  test("rrf invariants: ranks dense from 1, size capped, fused score monotone") {
    def ranking(seed: Long): Seq[(Long, Int)] = {
      val n = (seed % 12 + 1).toInt
      (1L to 20L).sortBy(id => (id * 2654435761L + seed * 97) % 1009)
        .take(n).zipWithIndex.map { case (id, i) => (id, i + 1) }
    }
    (1L to 6L).foreach { seed =>
      // two deterministic permutation-derived rankings per seed
      val a = ranking(seed).toDF("id", "rank")
      val b = ranking(seed + 100).toDF("id", "rank")
      val got = graft.ext.Retrieval.rrf(Seq(a, b), topK = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.length <= 8, s"seed $seed")
      assert(got.map(_._4).toSeq === (1L to got.length), s"seed $seed")
      // scores non-increasing down the ranking
      val scores = got.map(_._3)
      assert(scores.zip(scores.drop(1)).forall { case (x, y) => x >= y },
        s"seed $seed")
      got.foreach { case (_, nr, _, _) => assert(nr >= 1L && nr <= 2L) }
    }
  }

  test("dedupWithinHorizon equals the sequential greedy fold on random " +
      "event sets (the pointer-doubling correctness property)") {
    val evGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 60L)))
    def greedy(ts: Seq[Long], horizon: Long): Seq[Long] = {
      val sorted = ts.distinct.sorted
      sorted.foldLeft(List.empty[Long]) { (kept, t) =>
        kept match {
          case last :: _ if t - last <= horizon => kept
          case _ => t :: kept
        }
      }.reverse
    }
    (1L to 8L).foreach { seed =>
      val rows = sample(evGen, seed)
      val horizon = seed % 3 * 7L // 0, 7, 14 — includes the degenerate 0
      // the driver-side finish and the distributed doubling loop
      val (local, dist) = onBothPaths(
        Dedup.dedupWithinHorizon(rows.toDF("k", "t"), Seq("k"), "t", horizon)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap)
      val want = rows.groupBy(_._1).map { case (k, kts) =>
        k -> greedy(kts.map(_._2), horizon)
      }
      assert(local === want, s"seed $seed horizon $horizon (local)")
      assert(dist === want, s"seed $seed horizon $horizon (distributed)")
    }
  }
}
