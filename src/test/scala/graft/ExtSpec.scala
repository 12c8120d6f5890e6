package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.VectorFunctions.dot_product

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different words about spark query engines and columnar io"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min id") {
    val got = Dedup.exactDups(docs).collect()
    assert(got.length === 3)
    val dup = got.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 1L) // keep_id = min(1, 4)
  }

  test("semanticContamination flags near-copies of probe vectors only") {
    // probe = {100}; vec 1 duplicates it (contaminated), vec 2 is a
    // different direction sharing a bucket (similar but < tau), vec 4
    // points away (clean); probes never appear in the output
    val emb = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.7f, 0.7f, 0.0f), 0),
      (4L, Array(0.0f, 0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticContamination(emb,
        col("vec_id") === 100, threshold = 0.9, nCentroids = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 4L))
    assert(got.toMap.apply(1L) === 1L)
    assert(got.toMap.apply(2L) === 0L)
    assert(got.toMap.apply(4L) === 0L)
  }

  test("nnWithinBlocks finds the duplicate as its copy's nearest neighbor") {
    // vecs 1 and 2 are identical (nn_sim 1.0 of each other); vec 3 is
    // orthogonal-ish but co-bucketed; all blocked via 2 centroids
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.nnWithinBlocks(emb, nCentroids = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got(0)._2 === 2L && got(0)._3 === 1.0)
    assert(got(1)._2 === 1L && got(1)._3 === 1.0)
    assert(got(2)._2 === 1L) // 3's nearest is a copy of 1 (tie → min id)
  }

  test("survivorsByScore keeps the best-scoring member, ties to min id") {
    // component {1,2,3} chained via pairs; doc 2 has the top score so
    // it survives even though 1 has the smaller id. Component {5,6}
    // ties on score → min id 5 wins. Doc 9 is isolated (no row).
    val docs = Seq((1L, 10.0), (2L, 30.0), (3L, 20.0), (5L, 7.0),
      (6L, 7.0), (9L, 99.0)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.survivorsByScore(docs, pairs, col("score"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Seq(
      (1L, 2L, 3L, 0L), (2L, 2L, 3L, 1L), (3L, 2L, 3L, 0L),
      (5L, 5L, 2L, 1L), (6L, 5L, 2L, 0L)))
  }

  test("shingleNovelty charges later docs for shingles seen earlier") {
    // doc 11 is all-new; doc 12 repeats it verbatim (redundancy 10⁶);
    // doc 13 shares a 3-token prefix window with 11 but adds new tail
    // shingles; sub-3-token docs are absent
    val docs = Seq(
      (11L, "a b c d e"),        // 3 shingles, all first here
      (12L, "a b c d e"),        // same 3 → fully redundant
      (13L, "a b c x y z"),      // 'a b c' seen, 3 of 4 novel
      (14L, "xx yy"))            // < 3 tokens → no row
      .toDF("doc_id", "text")
    val got = Dedup.shingleNovelty(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Seq(
      (11L, 3L, 0L, 0L),
      (12L, 3L, 3L, 1000000L),
      (13L, 4L, 1L, 250000L)))
  }

  test("jaccard pairs finds near and exact duplicates with correct scores") {
    val got = Dedup.jaccardPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(p => (p._1, p._2)).toSet ===
      Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got.find(p => p._1 == 1L && p._2 == 4L).get._3 === 1.0)
  }

  test("containment pairs catches a short doc embedded in a long one") {
    import spark.implicits._
    // doc 1's two shingles are a strict subset of doc 2's six:
    // containment 2/min(2,6) = 1.0, jaccard 2/6 ≈ 0.3333 — invisible
    // to the jaccard screen at any usual threshold
    val corpus = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 1.0, 0.3333)))
    // the same corpus yields NO jaccard pair at 0.5 — the asymmetric
    // measure exists precisely for this shape
    assert(Dedup.jaccardPairs(corpus, 0.5).collect().isEmpty)
  }

  test("ivfAssign kernel equals the broadcast-join argmax formulation") {
    import graft.ext.Similarity.{asDouble, dot, norm}
    // deterministic pseudo-random-ish vectors: enough spread that
    // centroid ranking exercises real ties and near-ties
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (((i * 31 + j * 17) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    for (nAssign <- Seq(1, 2, 3)) {
      val got = Similarity.ivfAssign(emb, nCentroids = 7, nAssign = nAssign)
        .select(col("id"), col("centroid_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // reference: the pre-kernel formulation — broadcast join + 6dp
      // round + (sim DESC, c_id ASC) rank — replayed literally
      val e = emb.select(col("vec_id").as("id"),
          asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
      val c = e.orderBy(col("id")).limit(7)
        .select(col("id").as("c_id"), col("v").as("cv"),
          col("nrm").as("cn"))
      val denom = col("nrm") * col("cn")
      val sim = when(denom === 0.0, 0.0)
        .otherwise(dot(col("v"), col("cv")) / denom)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
        .orderBy(round(sim, 6).desc, col("c_id"))
      val want = e.join(broadcast(c), expr("true"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= nAssign)
        .select(col("id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"nAssign=$nAssign")
    }
  }

  test("pairCosineHistogram: offset pairs land in the exact integer bins") {
    // ids 0..16 are e0; their +17 partners are e0 (even i → cos 1) or
    // e1 (odd i → cos 0): 9 pairs at 1e6, 8 at 0 → bins 19 and 0
    val vecs = (0 until 17).map(i => (i.toLong, Array(1.0f, 0.0f))) ++
      (0 until 17).map(i =>
        (i + 17L, if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pairCosineHistogram(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.size === 20)
    assert(got(0L) === 8L)
    assert(got(19L) === 9L)
    assert(got.values.sum === 17L)
  }

  test("dedupWithinHorizon: greedy anchors, inclusive horizon, " +
      "per-key chains, doubling reaches long chains") {
    import graft.ext.Dedup
    // every fixture runs on the driver-side finish AND the distributed
    // doubling loop; both must give the same rows
    def both[A](f: => A): A = {
      val (local, dist) = onBothPaths(f)
      assert(local === dist, "local and distributed finishes disagree")
      local
    }
    // key a, horizon 10: keep 0; drop 5, 10 (≤ 0+10); keep 11; drop 21
    // (≤ 11+10, the INCLUSIVE boundary); keep 40. key b independent.
    val ev = Seq(("a", 0L), ("a", 5L), ("a", 10L), ("a", 11L),
      ("a", 21L), ("a", 40L), ("b", 100L), ("b", 105L))
      .toDF("k", "t")
    val got = both(Dedup.dedupWithinHorizon(ev, Seq("k"), "t", 10L)
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(got === Seq(("a", 0L), ("a", 11L), ("a", 40L),
      ("b", 100L)))
    // duplicate (key, ts) rows contract before the chain
    val dup = Seq(("a", 0L), ("a", 0L), ("a", 30L)).toDF("k", "t")
    assert(both(Dedup.dedupWithinHorizon(dup, Seq("k"), "t", 10L)
      .count()) === 2L)
    // a 21-anchor chain needs 5 doubling rounds (2^5 > 21), not 21
    val long = (0L to 20L).map(i => ("c", i * 11L)).toDF("k", "t")
    val lg = both(Dedup.dedupWithinHorizon(long, Seq("k"), "t", 10L)
      .orderBy("t").collect().map(_.getLong(1)).toSeq)
    assert(lg === (0L to 20L).map(_ * 11L))
    // composite key: chains are per (k1, k2)
    val comp = Seq(("a", 1L, 0L), ("a", 2L, 5L), ("a", 1L, 5L))
      .toDF("k1", "k2", "t")
    val cg = both(Dedup.dedupWithinHorizon(comp, Seq("k1", "k2"), "t", 10L)
      .orderBy("k2", "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(cg === Seq(("a", 1L, 0L), ("a", 2L, 5L)))
    // both finishes emit the same schema
    val (ls, ds) = onBothPaths(
      Dedup.dedupWithinHorizon(comp, Seq("k1", "k2"), "t", 10L).schema)
    assert(ls === ds)
  }

  test("dedupWithinHorizon rejects dotted keys and ignores null " +
      "timestamps") {
    import graft.ext.Dedup
    val ev = Seq(("a", Some(0L)), ("a", None), ("a", Some(5L)),
      ("a", Some(11L))).toDF("k", "t")
    // dotted key names would silently resolve as struct-field paths
    intercept[IllegalArgumentException] {
      Dedup.dedupWithinHorizon(ev, Seq("k.x"), "t", 10L)
    }
    // the null-ts row neither anchors nor extends any chain
    val (local, dist) = onBothPaths(
      Dedup.dedupWithinHorizon(ev, Seq("k"), "t", 10L)
        .orderBy("t").collect().map(_.getLong(1)).toSeq)
    assert(local === Seq(0L, 11L))
    assert(dist === Seq(0L, 11L))
  }

  test("iterative operators: both finishes agree and release their " +
      "checkpoints") {
    val sc = spark.sparkContext
    val ev = (0L to 40L).map(i => (i % 3, i * 4L)).toDF("k", "t")
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def held[A](f: => A): (A, Int) = {
      val before = sc.getPersistentRDDs.size
      val out = f
      (out, sc.getPersistentRDDs.size - before)
    }
    // the local finish returns a driver-built frame: nothing stays
    // pinned; the distributed loops keep only the returned frame's
    // checkpoint
    val (hl, hd) = onBothPaths(held(
      Dedup.dedupWithinHorizon(ev, Seq("k"), "t", 10L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq))
    assert(hl._1 === hd._1)
    assert(hl._2 <= 0 && hd._2 <= 1, s"horizon dedup held ${hl._2}/${hd._2}")
    val (cl, cd) = onBothPaths(held(
      Dedup.components(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
    assert(cl._1 === cd._1 && cl._1.values.toSet === Set(1L))
    assert(cl._2 <= 0 && cd._2 <= 1, s"components held ${cl._2}/${cd._2}")
    // both finishes emit the same schema
    val (sl, sd) = onBothPaths(Dedup.components(chain).schema)
    assert(sl === sd)
    // string ids label by Spark's UTF-8 byte order, which puts U+FF21
    // before U+1F600 where UTF-16 order puts it after
    val names = Seq(("\uD83D\uDE00", "\uFF21"), ("x", "y"))
      .toDF("doc_a", "doc_b")
    val (nl, nd) = onBothPaths(Dedup.components(names).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(nl === nd)
    assert(nl("\uD83D\uDE00") === "\uFF21" && nl("\uFF21") === "\uFF21")
    assert(nl("y") === "x")
  }

  test("blocked containment recalls the exact pairs on the fixture corpus") {
    // the planted subset pair from the containment test must surface
    // through rare-shingle blocking with the identical score
    val corpus = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairsBlocked(corpus, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
    // real corpus: blocked recall vs the exact reference
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.containmentPairs(real, 0.8, maxPostings = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.containmentPairsBlocked(real, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & blocked).size.toDouble / exact.size
    // pick-vs-postings blocking: a pair escapes only when ALL kRare of
    // the smaller doc's rarest eligible shingles fall in its unshared
    // tail — hold the same 0.95 floor the q176 verify gate hard-fails
    assert(recall >= 0.95, s"blocked containment recall $recall too low")
    // exact-verify property: no false positives relative to exact
    assert((blocked -- exact).isEmpty,
      "blocked emitted a pair the exact screen rejects")
  }

  test("flat-PQ ADC search: shape, self-exclusion, and recall vs the brute yardstick") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val adc = Similarity.pqAdcTopK(emb, q, k = 5,
      m = 16, dsub = 4, kCodes = 32, iters = 1).cache()
    val rows = adc.collect()
    assert(rows.length === 50) // 10 queries x k=5
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)),
      "a query returned itself")
    // per-query ranks are exactly 1..5 ordered by (adist, cid)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3, 4, 5))
    }
    val brute = Similarity.bruteTopK(emb, q, k = 5)
    // identity: recall of the yardstick against itself is 1
    val self = Similarity.recallAtK(brute, brute).collect()
    assert(self.forall(_.getDouble(2) === 1.0))
    // measured floor: 0.40 at both sf0.001 and sf0.01 with these
    // parameters; assert loosely so data regeneration can't flake it
    val rec = Similarity.recallAtK(brute, adc)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    assert(rec >= 0.2, s"PQ-ADC mean recall $rec below floor")
    adc.unpersist()
  }

  test("IVF-blocked ADC: candidates stay in probed cells, results are " +
      "a subset-ranking of the flat scan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val blocked = Similarity.ivfPqSearch(
      Similarity.pqBuild(emb, m = 16, dsub = 4, kCodes = 32, iters = 1),
      emb, q, k = 5, nCentroids = 16, nProbe = 4).cache()
    val rows = blocked.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // per-query ranks are contiguous from 1 (cells can hold < k
    // candidates, so a query may return fewer than k rows)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
    }
    // blocked results carry the SAME adist the flat scan assigns —
    // blocking filters candidates, it never changes scores
    val flat = Similarity.pqAdcTopK(emb, q, k = Int.MaxValue,
        m = 16, dsub = 4, kCodes = 32, iters = 1)
      .select(col("qid"), col("cid"), col("adist").as("flat_adist"))
    val joined = blocked.join(flat, Seq("qid", "cid"))
    assert(joined.count() === rows.length.toLong,
      "a blocked result is missing from the flat ranking")
    assert(joined.filter(col("adist") =!= col("flat_adist")).count() === 0L,
      "blocking changed an ADC score")
    // the one-training eval composition equals the two-operator form
    val composed = Similarity.pqAdcBlockingRecall(
        Similarity.pqBuild(emb, m = 16, dsub = 4, kCodes = 32, iters = 1),
        emb, q, k = 5, nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val twoOp = Similarity.recallAtK(
        Similarity.pqAdcTopK(emb, q, k = 5,
          m = 16, dsub = 4, kCodes = 32, iters = 1),
        Similarity.ivfPqSearch(
          Similarity.pqBuild(emb, m = 16, dsub = 4, kCodes = 32, iters = 1),
          emb, q, k = 5, nCentroids = 16, nProbe = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(composed.toSeq === twoOp.toSeq)
    blocked.unpersist()
  }

  test("PqIndex persistence + frozen-codebook add: round-trip search " +
      "bit-identical, add covers every id without retraining") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val idx = Similarity.pqBuild(base, m = 16, dsub = 4, kCodes = 32,
      iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    try {
      Similarity.savePqIndex(idx, dir)
      val loaded = Similarity.loadPqIndex(spark, dir)
      assert(loaded.m === 16 && loaded.dsub === 4)
      def dump(i: Similarity.PqIndex) =
        Similarity.pqAdcSearch(i, q, k = 5).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(dump(loaded) === dump(idx),
        "reloaded index search diverged from the in-session index")
      // frozen-codebook add: codebooks untouched, every corpus id coded
      val grown = Similarity.pqIndexAdd(idx, delta)
      val centsBefore = idx.cents.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSet
      val centsAfter = grown.cents.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSet
      assert(centsAfter === centsBefore, "add retrained the codebooks")
      assert(grown.codes.select(col("id")).distinct().count() ===
        emb.count())
      // delta encodes reproduce a from-scratch assignment vs the same
      // frozen codebooks: re-adding yields identical codes
      val again = Similarity.pqIndexAdd(idx, delta)
      val g = grown.codes.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val a = again.codes.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(g === a)
      // duplicate guard: re-adding an already-indexed delta to the
      // GROWN index is a no-op — blind unionAll would double-count
      // every downstream ADC sum with duplicate (id, sub) rows
      val readd = Similarity.pqIndexAdd(grown, delta)
      assert(readd.codes.count() === grown.codes.count(),
        "re-adding indexed ids grew the codes table")
      val r = readd.codes.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(r === g)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("IVF PqIndex persistence + frozen add: round-trip search " +
      "bit-identical, add freezes seeds/means/codebooks, re-add no-op") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val idx = Similarity.residualPqBuild(base, nCentroids = 16,
      m = 16, dsub = 4, kCodes = 32, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("respqidx").toString
    try {
      Similarity.savePqIndex(idx, dir)
      val loaded = Similarity.loadPqIndex(spark, dir)
      assert(loaded.m === 16 && loaded.dsub === 4 &&
        loaded.ivf.map(_.nCentroids) === Some(16))
      def dump(i: Similarity.PqIndex) =
        Similarity.residualPqSearch(i, q, k = 5, nProbe = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(dump(loaded) === dump(idx),
        "reloaded residual index search diverged from the in-session one")
      // frozen add: seeds, recentring means and codebooks untouched;
      // every corpus id coded and cell-assigned
      val grown = Similarity.pqIndexAdd(idx, delta)
      def frameSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSet
      val (ivf, grownIvf) = (idx.ivf.get, grown.ivf.get)
      assert(frameSet(grown.cents) === frameSet(idx.cents),
        "add retrained the residual codebooks")
      assert(frameSet(grownIvf.recenter) === frameSet(ivf.recenter),
        "add moved a frozen recentring mean")
      assert(frameSet(grownIvf.coarse) === frameSet(ivf.coarse),
        "add changed the coarse seed frame")
      assert(grown.codes.select(col("id")).distinct().count() ===
        emb.count())
      assert(grownIvf.cells.select(col("id")).distinct().count() ===
        emb.count())
      // every added vector lands in one of the FROZEN base-seed cells
      val seedIds = ivf.coarse.select(col("c_id")).collect()
        .map(_.getLong(0)).toSet
      assert(grownIvf.cells.select(col("centroid_id")).distinct().collect()
        .map(_.getLong(0)).toSet.subsetOf(seedIds),
        "an added vector landed outside the frozen seed cells")
      // re-adding the same delta is a no-op (duplicate guard)
      val readd = Similarity.pqIndexAdd(grown, delta)
      assert(readd.codes.count() === grown.codes.count())
      assert(readd.ivf.get.cells.count() === grownIvf.cells.count())
      // grown-index search matches the registered q202 shape: every
      // result comes from the combined corpus, ranks contiguous
      val rows = Similarity.residualPqSearch(grown, q, k = 5, nProbe = 4)
        .collect()
      assert(rows.nonEmpty)
      rows.groupBy(_.getLong(0)).values.foreach { g =>
        assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("pqDriftStats on an IVF index: cohorts partition, frozen-frame " +
      "reconstruction error stays bounded for a same-distribution delta") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val grown = Similarity.pqIndexAdd(
      Similarity.residualPqBuild(base, nCentroids = 16, m = 16,
        dsub = 4, kCodes = 32, iters = 1), delta)
    val rows = Similarity.pqDriftStats(grown, emb,
        when(pmod(col("vec_id"), lit(5)) === 0, lit("delta"))
          .otherwise(lit("base")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet === Set("base", "delta"))
    assert(rows("base")._1 === base.count())
    assert(rows("delta")._1 === delta.count())
    assert(rows("base")._3 > 0L && rows("delta")._3 > 0L)
    // one distribution feeds both cohorts: the frozen-everything delta
    // must not reconstruct materially worse than the training base
    assert(rows("delta")._3 <= 2L * rows("base")._3,
      s"residual delta drift ${rows("delta")._3} vs base ${rows("base")._3}")
  }

  test("sq8TopK: near-exact recall against brute, contiguous ranks, " +
      "no self-matches") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val got = Similarity.sq8TopK(emb, q, k = 5).cache()
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)),
      "a query returned itself")
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
    }
    // int8 rounding loses almost nothing at 64 dims: recall@5 must be
    // near-exact (the q206 gate's contract)
    val st = Similarity.recallStats(
      Similarity.bruteTopK(emb, q, 5), got, 5).collect()(0)
    assert(st.getAs[Long]("n_q") === 10L)
    assert(st.getAs[Long]("mean_recall_micro") >= 800000L,
      s"sq8 recall ${st.getAs[Long]("mean_recall_micro")} below floor")
    got.unpersist()
  }

  test("ivfSq8TopK: blocking filters candidates but never changes an " +
      "SQ8 score; results stay in probed cells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val blocked = Similarity.ivfSq8TopK(emb, q, k = 5,
      nCentroids = 16, nProbe = 4).cache()
    val rows = blocked.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
    }
    // hierarchical blocking filters, never rescores: every blocked
    // result's cos_sim equals the FLAT sq8 scan's score for that pair
    val flat = Similarity.sq8TopK(emb, q, k = Int.MaxValue)
      .select(col("qid"), col("cid"), col("cos_sim").as("fs"))
    val j = blocked.join(flat, Seq("qid", "cid"))
    assert(j.count() === rows.length.toLong,
      "a blocked result is missing from the flat SQ8 ranking")
    assert(j.filter(col("cos_sim") =!= col("fs")).count() === 0L,
      "blocking changed an SQ8 score")
    blocked.unpersist()
  }

  test("pqDriftStats: cohort counts partition the corpus, same-" +
      "distribution delta stays near the base error") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val grown = Similarity.pqIndexAdd(
      Similarity.pqBuild(base, m = 16, dsub = 4, kCodes = 32, iters = 1),
      delta)
    val rows = Similarity.pqDriftStats(grown, emb,
        when(pmod(col("vec_id"), lit(5)) === 0, lit("delta"))
          .otherwise(lit("base")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet === Set("base", "delta"))
    assert(rows("base")._1 === base.count())
    assert(rows("delta")._1 === delta.count())
    assert(rows("base")._3 > 0L && rows("delta")._3 > 0L)
    // one synthetic distribution feeds both cohorts: the frozen-
    // codebook delta must not reconstruct materially worse than the
    // training base (the retrain gate's green state)
    assert(rows("delta")._3 <= 2L * rows("base")._3,
      s"delta drift ${rows("delta")._3} vs base ${rows("base")._3}")
  }

  test("decToLongStrict: in-range narrows exactly, overflow raises " +
      "(never non-ANSI's silent NULL)") {
    val inRange = Seq((Long.MaxValue, Long.MinValue))
      .toDF("hi", "lo")
      .select(
        Similarity.decToLongStrict(
          col("hi").cast("decimal(38,0)"), "hi").as("hi"),
        Similarity.decToLongStrict(
          col("lo").cast("decimal(38,0)"), "lo").as("lo"))
      .collect().head
    assert(inRange.getLong(0) === Long.MaxValue)
    assert(inRange.getLong(1) === Long.MinValue)
    val e = intercept[Exception] {
      Seq(1).toDF("one")
        .select(Similarity.decToLongStrict(
          col("one").cast("decimal(38,0)") * lit(Long.MaxValue) * 3,
          "sum_err").as("x"))
        .collect()
    }
    assert(e.getMessage != null &&
      e.toString.contains("overflows BIGINT") ||
      Option(e.getCause).exists(_.toString.contains("overflows BIGINT")),
      s"expected a loud overflow error, got: $e")
  }

  test("two-level IVF: blocking never changes a score, level-2 lists " +
      "are in-cell seeds, ranks contiguous") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val got = Similarity.ivfTopK2(emb, q, k = 5,
      n1 = 8, n2 = 4, p1 = 3, p2 = 2).cache()
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)),
      "a query returned itself")
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
    }
    // hierarchical blocking filters candidates, never changes scores:
    // every result's cos_sim must equal the brute ranking's score
    val brute = Similarity.bruteTopK(emb, q, k = Int.MaxValue)
      .select(col("qid"), col("cid"), col("cos_sim").as("bs"))
    val j = got.join(brute, Seq("qid", "cid"))
    assert(j.count() === rows.length.toLong,
      "a two-level result is missing from the brute ranking")
    assert(j.filter(col("cos_sim") =!= col("bs")).count() === 0L,
      "two-level blocking changed a score")
    // assignment invariant: every vector's level-2 list head is a
    // member of the vector's own level-1 cell
    val a2 = Similarity.ivfAssign2(emb, 8, 4)
      .select(col("id"), col("cell1"), col("cell2"))
      .cache()
    val seedCells = a2.select(col("id").as("cell2"),
      col("cell1").as("seed_cell1"))
    assert(a2.join(seedCells, Seq("cell2"))
      .filter(col("cell1") =!= col("seed_cell1")).count() === 0L,
      "a level-2 seed lives outside its vector's level-1 cell")
    a2.unpersist()
    got.unpersist()
  }

  test("residual IVF-PQ: shape, candidates stay in probed cells, and " +
      "equal-budget recall uplift over raw-vector codes") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val resIdx = Similarity.residualPqBuild(emb, nCentroids = 16,
      m = 16, dsub = 4, kCodes = 32, iters = 1)
    val top = Similarity.residualPqSearch(resIdx, q, k = 5,
      nProbe = 4).cache()
    val rows = top.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)),
      "a query returned itself")
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to g.length))
    }
    // determinism: an independent rebuild replays the exact ranking
    val again = Similarity.residualPqSearch(
        Similarity.residualPqBuild(emb, nCentroids = 16, m = 16,
          dsub = 4, kCodes = 32, iters = 1), q, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // candidate containment: every residual result must come from the
    // plain blocked scan's candidate set (same cells, same probes)
    val plainIdx = Similarity.pqBuild(emb, m = 16, dsub = 4,
      kCodes = 32, iters = 1)
    val plainAll = Similarity.ivfPqSearch(plainIdx, emb, q,
        k = Int.MaxValue, nCentroids = 16, nProbe = 4)
      .select(col("qid"), col("cid"))
    assert(top.select(col("qid"), col("cid"))
      .join(plainAll, Seq("qid", "cid"), "left_anti").count() === 0L,
      "residual ranking surfaced a candidate outside the probed cells")
    // the equal-budget uplift row: residual codes must not rank WORSE
    // than raw codes against the exact yardstick (the q190 gate)
    val st = Similarity.residualUpliftStats(resIdx, plainIdx, emb, q,
      k = 5, nCentroids = 16, nProbe = 4).collect()(0)
    assert(st.getAs[Long]("n_q") === 10L)
    assert(st.getAs[Long]("res_ge_plain") === 1L,
      s"residual recall ${st.getAs[Long]("mean_recall_res_micro")} " +
        s"below raw ${st.getAs[Long]("mean_recall_plain_micro")}")
    top.unpersist()
  }

  test("minhash LSH recalls the exact jaccard pairs and estimates their similarity") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.jaccardPairs(real, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val approx = Dedup.minhashPairs(real, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    val recall = (exact.keySet & approx.keySet).size.toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall too low")
    // the 64-component estimate should track true jaccard (std ≈ 1/8)
    (exact.keySet & approx.keySet).foreach { p =>
      assert(math.abs(exact(p) - approx(p)) <= 0.25,
        s"pair $p: exact=${exact(p)} est=${approx(p)}")
    }
  }

  test("simhash distance 0 for identical docs; finds near-dups in fixture corpus") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val identical = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(identical.exists(_._3 === 0))
    // short docs differing by one token can flip several bits (each bit's
    // vote sum moves ±2), so (1,2) is not asserted; the fixture corpus's
    // long near-dup docs must produce pairs though
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(Dedup.simhashPairs(real, maxDist = 3).count() > 0)
  }

  test("simhashHammingHistogram counts the banded candidates the " +
      "threshold filters") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val hist = Dedup.simhashHammingHistogram(real,
        hash = TextAnalysis.md5Hash60).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the histogram's <=3 mass must equal the pairs op's count exactly
    val pairs = Dedup.simhashPairs(real, maxDist = 3,
      hash = TextAnalysis.md5Hash60).count()
    assert(hist.filter(_._1 <= 3).values.sum === pairs)
    assert(hist.values.sum > pairs, "candidates beyond the cut exist")
  }

  test("packContaminationStats: poisoned packs counted once, collateral " +
      "is clean tokens only") {
    // one shard (ids hash wherever; shards=1 forces one packing line),
    // budget 5: docs of 3 tokens each -> packs of ~2 docs
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon shared with benchmark set"),
      (2L, "clean words one two three"),
      (3L, "clean words four five six"),
      (4L, "clean words seven eight nine"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = graft.ext.Curation.packContaminationStats(corpus, bench,
        budget = 9, shards = 1, n = 5).collect()
    assert(got.length === 1)
    val r = got.head
    // doc 1 (9 tokens) is flagged; every pack holding it is poisoned
    // and contributes only its CLEAN packmates' tokens as collateral
    assert(r.getLong(2) >= 1L, "at least one poisoned pack")
    val total = r.getLong(3); val coll = r.getLong(4)
    assert(total === 9L + 5L + 5L + 5L)
    assert(coll < total - 9L + 1L, "flagged doc's own tokens not collateral")
    assert(r.getLong(5) === coll * 1000000L / total)
  }

  test("dot_product codegen expression matches manual computation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val got = df.select(dot_product(col("a"), col("b"))).collect().head.getDouble(0)
    assert(got === 32.0)
  }

  test("cosine: orthogonal → 0, identical direction → 1") {
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(2.0, 0.0), Array(5.0, 0.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    assert(got(0) === 0.0 && math.abs(got(1) - 1.0) < 1e-12)
  }

  test("bruteTopK is exact and annTopK recalls a reasonable fraction") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size === 50)
    val ann = Similarity.annTopK(emb, q, 5, bits = 4, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.3, s"ann recall $recall too low")
  }

  test("annRecall agrees with a manual brute∩ann per-query comparison") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(emb, q, 5))
    val ann = pairs(Similarity.annTopK(emb, q, 5, bits = 4, tables = 8))
    val expected = brute.groupBy(_._1).map { case (qid, b) =>
      qid -> b.count(ann.contains)
    }
    val got = Similarity.annRecall(emb, q, 5, bits = 4, tables = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (qid, hits) =>
      assert(got(qid)._1 === hits.toLong, s"qid $qid")
      assert(got(qid)._2 === BigDecimal(hits / 5.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("ivfTopK buckets cover the corpus and recall beats random probing") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = Similarity.ivfAssign(emb, 16)
    assert(assigned.count() === 500)
    assert(assigned.select("centroid_id").distinct().count() <= 16)
    // the argmax must collapse map-side (max_by / bounded top-n agg):
    // a ranking window here would shuffle the n×k broadcast blowup
    // with vectors attached — the self-inflicted 16×-wide exchange
    for (n <- Seq(1, 2)) {
      val plan = Similarity.ivfAssign(emb, 16, n)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"ivfAssign(nAssign=$n) ranks via a window over the n×k blowup:\n$plan")
    }
    // multi-assignment still lands each vector in nAssign buckets
    val multi = Similarity.ivfAssign(emb, 16, 2)
    assert(multi.count() === 1000)
    assert(multi.groupBy("id").count()
      .filter(col("count") =!= 2).count() === 0)
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, 5, nCentroids = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // probing 4/16 buckets scans ~25% of the corpus; recall must beat that
    assert(recall >= 0.3, s"ivf recall $recall too low")
  }

  test("components collapses an A-B-C chain with no A-C edge; survivorsExact keeps A") {
    val chainDocs = Seq(
      (1L, "doc a"), (2L, "doc b"), (3L, "doc c"), (4L, "unrelated"),
      (10L, "x"), (11L, "y"))
      .toDF("doc_id", "text")
    // edges: 1-2, 2-3 (chain, no 1-3), 10-11 (separate pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val kept = Dedup.survivorsExact(chainDocs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // C (doc 3) reaches A only through B — it is dropped, A survives
    assert(kept === Set(1L, 4L, 10L))
    // a longer chain needing two propagation rounds
    val long = Seq((4L, 5L), (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val longComps = Dedup.components(long).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(longComps === Map(4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L))
  }

  test("approx_percentile at accuracy >> n returns an exact data element") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val apx = li.agg(expr(
        "approx_percentile(l_extendedprice, 0.5, 1000000)").as("apx"))
      .collect().head.getDouble(0)
    // GK rank error ≤ n/accuracy < 1 here: the result must be an actual
    // column value whose rank is the median (the q69 oracle contract —
    // DuckDB quantile_disc picks the same element)
    val n = li.count()
    assert(li.filter(col("l_extendedprice") === apx).count() > 0)
    val below = li.filter(col("l_extendedprice") <= apx).count()
    assert(math.abs(below.toDouble / n - 0.5) < 0.01,
      s"median rank off: $below/$n")
  }

  test("electRepresentatives keeps the longest per component, singletons always") {
    val docs = Seq(
      (1L, "web", 50L), (2L, "web", 90L), (3L, "books", 90L), // one cluster
      (4L, "web", 10L),                                       // singleton
      (10L, "web", 30L), (11L, "web", 30L))                   // tie cluster
      .toDF("doc_id", "source", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val got = Dedup.electRepresentatives(docs, comps, col("n_chars"))
      .select("doc_id", "component", "is_kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // cluster {1,2,3}: max n_chars is 90 shared by 2 and 3 — smallest
    // id wins (2); the min-id rule would have kept 1 (50 chars)
    assert(got(2L) === (1L, 1L) && got(1L) === (1L, 0L) &&
      got(3L) === (1L, 0L))
    // singleton 4 is its own component and kept
    assert(got(4L) === (4L, 1L))
    // tie cluster: equal n_chars, id tie-break keeps 10
    assert(got(10L) === (10L, 1L) && got(11L) === (10L, 0L))
  }

  test("crossSourceDupMatrix attributes pairs to unordered source pairs") {
    val docs = Seq(
      (1L, "web"), (2L, "web"), (3L, "books"), (4L, "wiki"), (5L, "books"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L), (2L, 3L), (3L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.crossSourceDupMatrix(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // web-web intra pair (1,2); books-web: (1,3),(2,3); books-wiki:
    // (3,4); books-books: (3,5)
    assert(got === Map(
      ("web", "web") -> (1L, 2L),
      ("books", "web") -> (2L, 3L),   // docs {1,2,3}
      ("books", "wiki") -> (1L, 2L),
      ("books", "books") -> (1L, 2L)))
  }

  test("clusterDensityStats: clique density 1e6, chain near-minimal, topN order") {
    // component 1: triangle {1,2,3} (clique, 3 pairs / 3 possible);
    // component 10: 4-chain {10,11,12,13} (3 pairs / 6 possible)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("doc_a", "doc_b")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L))
      .toDF("doc_id", "component")
    val rows = graft.ext.Dedup.clusterDensityStats(comps, pairs, topN = 2)
      .collect()
    // largest first: the 4-doc chain, then the triangle
    assert(rows.map(_.getLong(0)).toSeq === Seq(10L, 1L))
    val chain = rows(0); val clique = rows(1)
    assert(chain.getLong(1) === 4L && chain.getLong(2) === 3L)
    assert(chain.getLong(3) === 3L * 2000000L / 12L)   // 500000
    assert(clique.getLong(1) === 3L && clique.getLong(2) === 3L)
    assert(clique.getLong(3) === 1000000L)             // a true clique
  }

  test("vectorNormHealthStats: zero bucket, exact digit buckets, shares") {
    // norms: zero vector -> bucket 0; [0.001,...] -> na = 1000^2*4 =
    // 4e6 (7 digits); [1,1,1,1] -> na = 4e12 (13 digits)
    val emb = Seq(
      (1L, Array(0f, 0f, 0f, 0f)),
      (2L, Array(0.001f, 0.001f, 0.001f, 0.001f)),
      (3L, Array(1f, 1f, 1f, 1f)),
      (4L, Array(1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.vectorNormHealthStats(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(rows(0L) === (1L, 0L, 0L, 250000L))
    assert(rows(7L) === (1L, 4000000L, 4000000L, 250000L))
    assert(rows(13L) === (2L, 4000000000000L, 4000000000000L, 500000L))
  }

  test("nearDupThresholdAdvisor: budget picks the smallest fitting threshold; degraded mode") {
    val sweep = Seq(
      (200000L, 1546L, 500L, 1L), (250000L, 955L, 478L, 1L),
      (300000L, 407L, 360L, 1L), (350000L, 127L, 180L, 1L),
      (400000L, 27L, 43L, 1L))
      .toDF("threshold_micro", "n_pairs", "n_docs_affected", "monotone_ok")
    val r = Similarity.nearDupThresholdAdvisor(sweep, 500L).collect()(0)
    // 407 <= 500 at t=300000 is the most aggressive fitting point
    assert(r.getLong(0) === 300000L && r.getLong(1) === 407L)
    assert(r.getLong(4) === 5L && r.getLong(5) === 3L)
    // budget below every point: fall back to fewest pairs, alarm at 0
    val d = Similarity.nearDupThresholdAdvisor(sweep, 10L).collect()(0)
    assert(d.getLong(0) === 400000L && d.getLong(1) === 27L)
    assert(d.getLong(5) === 0L)
  }

  test("qualityThresholdAdvisor: smallest fitting bar; degraded mode") {
    val sweep = Seq(
      (50000L, 900L, 900000L, 9000L, 90000L),
      (100000L, 700L, 700000L, 7000L, 70000L),
      (200000L, 400L, 400000L, 4000L, 40000L),
      (300000L, 100L, 100000L, 1000L, 10000L),
      (400000L, 10L, 10000L, 100L, 1000L))
      .toDF("threshold_micro", "n_survivors", "survivor_share_micro",
        "tokens_retained", "n_tokens_share_unused")
      .withColumnRenamed("n_tokens_share_unused", "token_share_micro")
    // budget 4500 tokens: t=200000 (4000) fits, t=100000 (7000) doesn't
    val r = TextAnalysis.qualityThresholdAdvisor(sweep, 4500L)
      .collect()(0)
    assert(r.getLong(0) === 200000L && r.getLong(1) === 400L &&
      r.getLong(2) === 4000L)
    assert(r.getLong(3) === 4500L)
    assert(r.getLong(4) === 5L && r.getLong(5) === 3L)
    // budget below every point: largest bar (fewest tokens), alarm 0
    val d = TextAnalysis.qualityThresholdAdvisor(sweep, 50L).collect()(0)
    assert(d.getLong(0) === 400000L && d.getLong(2) === 100L)
    assert(d.getLong(5) === 0L)
  }

  test("lshBandAdvisor: largest fitting bands; degraded mode") {
    val sweep = Seq(
      (4L, 100L, 800L, 90L, 80L, Some(888888L), 1L),
      (8L, 100L, 2500L, 95L, 92L, Some(920000L), 1L),
      (16L, 100L, 9000L, 99L, 97L, Some(970000L), 1L))
      .toDF("bands", "n_exact", "n_raw_candidates", "n_candidate",
        "n_common", "recall_micro", "recall_monotone_ok")
    // budget 5000 raw candidates: bands=8 (2500) is the largest fit
    val r = Dedup.lshBandAdvisor(sweep, 5000L).collect()(0)
    assert(r.getLong(0) === 8L && r.getLong(2) === 2500L)
    assert(r.getLong(5) === 920000L)
    assert(r.getLong(6) === 5000L)
    assert(r.getLong(7) === 3L && r.getLong(8) === 2L)
    // budget below every point: fewest candidates (bands=4), alarm 0
    val d = Dedup.lshBandAdvisor(sweep, 10L).collect()(0)
    assert(d.getLong(0) === 4L && d.getLong(2) === 800L)
    assert(d.getLong(8) === 0L)
  }

  test("electStoreCompactionStats: upgrade-only appends, amplification") {
    // key "a": batch winners (pref) 5 -> 7 -> 6: appends at b0, b1
    // key "b": 9 -> 9(id higher) -> 9(id lower): appends at b0, b2
    // key "c": single batch
    val docs = Seq(
      (1L, "a", 5L, 0L), (2L, "a", 7L, 1L), (3L, "a", 6L, 2L),
      (10L, "b", 9L, 0L), (11L, "b", 9L, 1L), (9L, "b", 9L, 2L),
      (20L, "c", 4L, 1L),
      // in-batch loser (never a winner, never counted)
      (4L, "a", 1L, 0L))
      .toDF("doc_id", "k_src", "pref_src", "batch_src")
    val r = Dedup.electStoreCompactionStats(docs,
        keyCol = col("k_src"), prefCol = col("pref_src"),
        batchCol = col("batch_src"), ampThresholdMicro = 1500000L)
      .collect()(0)
    assert(r.getLong(0) === 3L)   // n_batches
    assert(r.getLong(1) === 3L)   // n_keys_live
    assert(r.getLong(2) === 7L)   // winners_rows (3 + 3 + 1)
    assert(r.getLong(3) === 5L)   // appended: a@0, a@1, b@0, b@2, c@1
    assert(r.getLong(4) === 2L)   // dead rows
    assert(r.getLong(5) === 5L * 1000000L / 3L) // read amp
    assert(r.getLong(6) === 7L * 1000000L / 3L) // upper amp
    assert(r.getLong(7) === 1L)   // 1.67e6 > 1.5e6 -> compact
  }

  test("componentsWithRounds: double jump collapses a 200-chain fast") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // pinned to the distributed loop (the local finish runs no rounds)
    val (labelled, rounds) = distributed {
      val (df, n) = Dedup.componentsWithRounds(chain)
      (df.collect(), n)
    }
    val comps = labelled.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 200 && comps.values.toSet === Set(1L))
    // label-travel distance grows d → 3(d+1) per round (neighbor-min
    // +1, then +d per jump through the stepped map): 1, 6, 21, 66, 201
    // — 4 rounds to cover 199 hops + 1 confirming round. The previous
    // loop's single jump through the START-of-round map grew d → 2d+1,
    // needing 7 + 1 rounds on this chain.
    assert(rounds <= 5, s"200-chain took $rounds rounds")
  }

  test("nearDupPairsBlocked: subset of exact pairs, decent recall, equi-join plan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.nearDupPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blockedDf = Similarity.nearDupPairsBlocked(emb, 0.4, nCentroids = 16)
    val blocked = blockedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert((blocked -- exact).isEmpty, "blocked found a pair the exact scan missed")
    val recall = (exact & blocked).size.toDouble / exact.size
    assert(recall >= 0.5, s"blocked recall $recall too low")
    // the whole point: pair generation must be an equi-join on the
    // centroid bucket, never a nested-loop pair scan (the checkpointed
    // assignment keeps even the 16-row centroid broadcast out of it)
    val plan = blockedDf.queryExecution.executedPlan.toString
    val equiJoins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(plan).size
    assert(equiJoins >= 1, s"no equi-join in blocked plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in pair plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("quantizeInt8 zero-vector edge: scale 0, zero codes, zero dequantization") {
    val z = Seq((1L, Array(0.0f, 0.0f, 0.0f)), (2L, Array(3.0f, -4.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(z)
      .select(col("vec_id"), col("q_scale"),
        Similarity.dequantize(col("q_codes"), col("q_scale")).as("deq"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Double](2))).toMap
    assert(q(1L)._1 === 0.0 && q(1L)._2.forall(_ === 0.0))
    assert(math.abs(q(2L)._1 - 4.0 / 127) < 1e-12)
    assert(math.abs(q(2L)._2.head - 3.0) <= 4.0 / 254 + 1e-9)
  }

  test("packSequences conserves tokens and docs across budgets") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val totalDocs = real.count()
    val totalTokens = TextAnalysis.packSequences(real, 512, 8)
      .agg(sum(col("n_tokens"))).collect().head.getLong(0)
    Seq(64, 4096).foreach { budget =>
      val packed = TextAnalysis.packSequences(real, budget, shards = 4)
      assert(packed.count() === totalDocs, s"budget $budget lost docs")
      assert(packed.agg(sum(col("n_tokens"))).collect().head.getLong(0)
        === totalTokens, s"budget $budget lost tokens")
    }
  }

  test("hash split labels are invariant under repartitioning") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    def labels(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.withHashSplit(df).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labels(real) === labels(real.repartition(7)))
  }

  test("components invariants on the real co-shingle graph") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.coShinglePairs(real, minShared = 2)
    val label = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // every edge's endpoints share a component
    edges.foreach { case (a, b) =>
      assert(label(a) === label(b), s"edge ($a,$b) split across components")
    }
    // each component is labelled by its minimum member id
    label.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"component $c mislabelled")
    }
  }

  test("int8 quantization: small reconstruction error, top-k mostly preserved") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Similarity.quantizeInt8(emb)
    val deq = q.select(col("vec_id"),
      Similarity.dequantize(col("q_codes"), col("q_scale")).as("embedding"))
    // max per-element error is bounded by scale/2 = max|x|/254
    val errRow = q.select(
      org.apache.spark.sql.functions.max(array_max(zip_with(
        Similarity.asDouble(col("embedding")),
        Similarity.dequantize(col("q_codes"), col("q_scale")),
        (a, b) => abs(a - b))) /
        (array_max(transform(Similarity.asDouble(col("embedding")),
          x => abs(x))) / 127.0)).as("worst_units"))
      .collect().head
    assert(errRow.getDouble(0) <= 0.5 + 1e-9) // within half a code unit
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.bruteTopK(deq,
      deq.filter(col("vec_id") < 10), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & approx).size.toDouble / exact.size
    assert(overlap >= 0.8, s"quantized top-k overlap $overlap too low")
    // the codegen explode-formulated audit agrees with the HOF operator
    val stats = Similarity.quantizationErrorStats(emb).collect().head
    val hofWorst = q.select(
      org.apache.spark.sql.functions.max(array_max(zip_with(
        Similarity.asDouble(col("embedding")),
        Similarity.dequantize(col("q_codes"), col("q_scale")),
        (a, b) => abs(a - b))))).collect().head.getDouble(0)
    assert(stats.getLong(0) === emb.count())
    assert(math.abs(stats.getDouble(2) - math.floor(hofWorst * 10000) / 10000) < 1e-9)
  }

  test("hash split is deterministic and near the 80/10/10 weights") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val counts = TextAnalysis.withHashSplit(real)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(total === real.count())
    assert(counts("train").toDouble / total > 0.7)
    assert(counts.getOrElse("val", 0L) > 0 && counts.getOrElse("test", 0L) > 0)
    // deterministic: a rerun assigns identical splits
    val again = TextAnalysis.withHashSplit(real)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
  }

  test("packSequences fills packs to the budget with bounded overshoot") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 512
    val packs = TextAnalysis.packSequences(real, budget, shards = 8)
      .groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("tok"), max(col("n_tokens")).as("mx"))
      .collect()
    assert(packs.nonEmpty)
    // a pack exceeds the budget by at most its own largest document
    // (the straddling doc joins the pack where its tokens started)
    packs.foreach { r =>
      assert(r.getLong(2) <= budget + r.getLong(3),
        s"pack ${r.get(0)}/${r.get(1)} too large: ${r.getLong(2)}")
    }
    // every doc lands in exactly one pack
    assert(packs.map(_.getLong(2)).sum ===
      TextAnalysis.packSequences(real, budget, shards = 8)
        .agg(sum(col("n_tokens"))).collect().head.getLong(0))
  }

  test("text quality: punct and stopword ratios behave") {
    val df = Seq((1L, "the cat, the hat!!! sat;")).toDF("doc_id", "text")
    val r = TextAnalysis.withQuality(df).select(
      "n_tokens", "punct_count", "stop_ratio").collect().head
    assert(r.getLong(0) === 5L)
    assert(r.getLong(1) === 5L) // one comma, three bangs, one semicolon
  }

  test("language id picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat is in the hat and it is fine"),
      (2L, "der hund ist nicht auf der wiese und ich"),
      (3L, "el perro es un animal y los gatos por para"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df).select("doc_id", "pred_lang")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) === "en" && got(2L) === "de" && got(3L) === "es")
  }

  test("fingerprint is whitespace-insensitive") {
    val df = Seq((1L, "a  b\tc"), (2L, "a b c")).toDF("doc_id", "text")
    val fps = TextAnalysis.withFingerprint(df).select("fingerprint")
      .collect().map(_.getString(0))
    assert(fps(0) === fps(1))
  }

  test("winnow sketch is deterministic and smaller than the shingle count") {
    val real = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val a = TextAnalysis.withWinnow(real).select("doc_id", "winnow_xor")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = TextAnalysis.withWinnow(real).select("doc_id", "winnow_xor")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b && a.nonEmpty)
  }

  test("multimodal meta + features are deterministic and sane") {
    val df = Seq((3L, "hello world")).toDF("doc_id", "text")
    val meta = Multimodal.metaTable(df).collect().head
    assert(meta.getLong(1) === 11L) // utf-8 bytes
    assert(meta.getInt(2) === 64 + (3 * 2654435761L % 193).toInt)
    val feats = Multimodal.extractFeatures(Multimodal.assets(df)).collect().head
    assert(feats.n_bytes === 11L)
    assert(math.abs(feats.features.sum - 1.0f) < 1e-5)
  }

  test("frame sampling yields n frames per asset") {
    val df = Seq((1L, "x" * 200)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(Multimodal.assets(df), n = 4).collect()
    assert(frames.length === 4)
    assert(frames.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
  }

  test("phash near-dup recall vs exact byte equality is total; " +
      "localized same-length corruption stays within the band") {
    val base = (0 until 610).map(i => ('a' + (i * 7 + i / 13) % 26).toChar)
      .mkString
    // chars 100-104 corrupted IN PLACE (same length) — one grid cell
    val corrupted = base.substring(0, 100) + "ZZZZZ" + base.substring(105)
    val other = (0 until 400).map(i => ('a' + (i * 11 + 3) % 26).toChar)
      .mkString
    val docs = Seq((1L, base), (2L, base), // exact dup pair
      (3L, other), (4L, other),            // second exact dup pair
      (5L, corrupted)).toDF("doc_id", "text")
    val pairs = Multimodal.phashPairs(Multimodal.assets(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    // recall vs exact byte equality: every byte-identical pair is
    // found, at distance 0
    assert(pairs.get((1L, 2L)) === Some(0))
    assert(pairs.get((3L, 4L)) === Some(0))
    // the same-length localized edit flips only the bits whose cells
    // cover it: within the banded maxDist, but not distance 0
    assert(pairs.contains((1L, 5L)) && pairs((1L, 5L)) > 0
      && pairs((1L, 5L)) <= 3)
    assert(pairs((2L, 5L)) === pairs((1L, 5L)))
  }

  test("frameVotePairs carries a localized corruption on the vote; " +
      "shared-frame-only pairs stay under the threshold") {
    val base = (0 until 640).map(i => ('a' + (i * 7 + i / 13) % 26).toChar)
      .mkString
    val corrupted = base.substring(0, 100) + "ZZZZZ" + base.substring(105)
    // doc 3 shares ONLY the final 64 chars with base (its own prefix
    // differs): at most the last frame can agree
    val tailOnly = (0 until 576).map(i => ('a' + (i * 11 + 3) % 26).toChar)
      .mkString + base.substring(576)
    val docs = Seq((1L, base), (2L, corrupted), (3L, tailOnly))
      .toDF("doc_id", "text")
    val votes = graft.ext.Multimodal.frameVoteCandidates(
      graft.ext.Multimodal.assets(docs), n = 8, frameLen = 32,
      maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the 5-char corruption kills at most 2 of 8 frames
    assert(votes((1L, 2L)) >= 6L)
    // the tail-sharing doc agrees on at most the anchored last frame
    assert(votes.getOrElse((1L, 3L), 0L) <= 1L)
    val pairs = graft.ext.Multimodal.frameVotePairs(
      graft.ext.Multimodal.assets(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("canaryRecallStats: narrow corruption caught by both gates, " +
      "wide corruption escapes phash") {
    val base = (0 until 640).map(i => ('a' + (i * 7 + i / 13) % 26).toChar)
      .mkString
    val docs = Seq((7L, base), (3L, base.reverse)) // only id 7 eligible
      .toDF("doc_id", "text")
    val got = graft.ext.Multimodal.canaryRecallStats(docs,
        widths = Seq(5, 125))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // width 5: between frame anchors, 1-2 grid cells -> both catch
    assert(got(5L) === ((1L, 1L, 1L)))
    // width 125: ~19 grid cells flip the hash far past the band;
    // frames carry it here (3 of 8 touched leaves 5... at L=640 the
    // spacing is 86, the 101-225 edit touches frames 2-3 -> 6 votes)
    val (planted, ph, fv) = got(125L)
    assert(planted === 1L && ph === 0L)
    assert(fv <= 1L) // frame verdict is length-dependent; phash is the gate under test
  }

  test("clipContainmentPairs: a substring clip contains at exactly " +
      "1e6; unrelated payloads produce no pair") {
    val base = (0 until 640).map(i => ('a' + (i * 7 + i / 13) % 26).toChar)
      .mkString
    val other = (0 until 500).map(i => ('a' + (i * 11 + 3) % 26).toChar)
      .mkString
    val docs = Seq((1L, base), (2L, base.substring(150, 400)),
      (3L, other)).toDF("doc_id", "text")
    val got = graft.ext.Multimodal.clipContainmentPairs(
        graft.ext.Multimodal.assets(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4))
      .toMap
    assert(got === Map((1L, 2L) -> 1000000L))
  }

  test("crossModalConsistency alarms on near-identical payloads with " +
      "disagreeing embeddings only") {
    val a = (0 until 610).map(i => ('a' + (i * 7 + i / 13) % 26).toChar)
      .mkString
    val b = (0 until 400).map(i => ('a' + (i * 11 + 3) % 26).toChar)
      .mkString
    val docs = Seq((1L, a), (2L, a), (3L, b), (4L, b))
      .toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // pair (1,2): orthogonal —
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // the encoder alarm
      (3L, Array(0.5f, 0.5f, 0.0f, 0.0f)), // pair (3,4): identical
      (4L, Array(0.5f, 0.5f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Multimodal.crossModalConsistency(
        Multimodal.assets(docs), emb)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // both dup pairs sit at hamming 0; exactly one disagrees, and the
    // worst cosine is the orthogonal pair's 0
    assert(got(0) === ((2L, 1L, 0L)))
  }

  test("kmeans converges to planted cluster means") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(1.1f, -0.1f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f)),
      (12L, Array(-0.1f, 1.1f)))
      .toDF("vec_id", "embedding")
    // both seeds (ids 1, 2) start inside cluster A; two Lloyd rounds
    // must still separate A from B and land on the group means
    val cents = Similarity.kmeansCentroids(vecs, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def close(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(close(cents(1L), Seq(1.0, 0.0)))
    assert(close(cents(2L), Seq(0.0, 1.0)))
  }

  test("pqEncode groups planted subspace clusters and is deterministic") {
    // 4-dim vectors, m=2 subspaces of 2 dims; in subspace 0 ids {1,2,10}
    // share a pattern vs {11}; in subspace 1 the split flips — codes
    // must disagree across subspaces, proving independent codebooks
    val vecs = Seq(
      (1L,  Array(1.0f, 0.0f, 5.0f, 5.0f)),
      (2L,  Array(0.9f, 0.1f, 5.1f, 4.9f)),
      (10L, Array(1.1f, 0.0f, 0.0f, 9.0f)),
      (11L, Array(9.0f, 9.0f, 0.1f, 9.1f)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(vecs, m = 2, dsub = 2, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size === 8)
    // seeds are ids 1 and 2 -> codes come from {1, 2}
    assert(codes.values.toSet.subsetOf(Set(1L, 2L)))
    // subspace 0: 1, 2, 10 cluster together, 11 is far away
    assert(codes((1L, 0)) === codes((2L, 0)))
    assert(codes((10L, 0)) === codes((1L, 0)))
    assert(codes((11L, 0)) !== codes((1L, 0)))
    // subspace 1: 1, 2 together; 10, 11 together on the other code
    assert(codes((1L, 1)) === codes((2L, 1)))
    assert(codes((10L, 1)) === codes((11L, 1)))
    assert(codes((10L, 1)) !== codes((1L, 1)))
    val again = Similarity.pqEncode(vecs, m = 2, dsub = 2, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again === codes)
  }

  test("kmeans keeps the previous centroid for emptied clusters") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // seed 2 duplicates seed 1: ties resolve to the smaller c_id, so
    // cluster 2 empties and must keep its seed vector verbatim
    val cents = Similarity.kmeansCentroids(vecs, k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet === Set(1L, 2L, 3L))
    assert(cents(2L) === Seq(1.0, 0.0))
  }

  test("vector_mean aggregates element-wise with map-side partials") {
    import graft.functions.VectorAggregates.vector_mean
    val df = Seq((1, Array(1.0, 2.0)), (1, Array(3.0, 4.0)),
      (2, Array(5.0, 6.0)))
      .toDF("g", "v").repartition(3) // force partial buffers to merge
    val got = df.groupBy($"g").agg(vector_mean($"v").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(1) === Seq(2.0, 3.0))
    assert(got(2) === Seq(5.0, 6.0))
  }

  test("dedupAgainstStore: two-batch flow drops history dups and in-batch dups") {
    import graft.ext.Dedup
    val batch1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val empty = Dedup.fingerprints(batch1.limit(0))
    val s1 = Dedup.dedupAgainstStore(batch1, empty)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the store accumulates batch 1's survivors; batch 2 re-sends
    // "beta" (historical dup), repeats "gamma" (in-batch dup), and
    // brings one genuinely new text
    val store = Dedup.fingerprints(s1)
    val batch2 = Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val s2 = Dedup.dedupAgainstStore(batch2, store)
    assert(s2.select("doc_id").as[Long].collect().toSeq === Seq(11L))
  }

  test("centroidOutliers ranks the atypical vector first in its label") {
    // label 0 clusters along x with one y-axis outlier; label 1 has no
    // outlier — its furthest member is just the least-typical cluster
    // point, ranked deterministically
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(1.0f, 0.1f), 0),
      (4L, Array(0.0f, 1.0f), 0), // the mislabeled point
      (5L, Array(0.0f, 2.0f), 1),
      (6L, Array(0.1f, 1.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(emb, k = 1)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got(0) === 4L)
    assert(Set(5L, 6L).contains(got(1)))
  }

  test("randomProject: one-hot vectors keep norm exactly, ±1 entries") {
    // for x = c·e_d every projection is ±c and ‖proj‖/√k ÷ ‖x‖ is
    // exactly 1 — an algebraic fixed point of the JL scaling that needs
    // no tolerance; a zero vector takes the 0 guard
    val dim = 64
    def oneHot(d: Int, c: Float) =
      Array.tabulate(dim)(i => if (i == d) c else 0.0f)
    val emb = Seq(
      (1L, oneHot(0, 1.0f), 0),
      (2L, oneHot(5, 3.0f), 0),
      (3L, Array.fill(dim)(0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.randomProject(emb, k = 4)
      .orderBy("vec_id").collect()
    val p1 = (1 to 4).map(i => got(0).getDouble(i))
    assert(p1.forall(v => v == 1.0 || v == -1.0))
    assert(got(0).getDouble(5) === 1.0) // norm_ratio
    assert((1 to 4).map(got(1).getDouble).forall(v => math.abs(v) == 3.0))
    assert(got(1).getDouble(5) === 1.0)
    assert(got(2).getDouble(5) === 0.0) // zero vector guard
    // deterministic across runs (hash-derived matrix, no RNG state)
    val again = Similarity.randomProject(emb, k = 4)
      .orderBy("vec_id").collect()
    assert(got.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("semanticDedup drops only the higher id of an in-cluster near-dup") {
    // two well-separated directions; vec 3 is a near-copy of vec 1 and
    // must land in its cluster and lose to it; vec 2's cluster has no
    // near-dups; vec 4 is moderately similar to 1 but below tau
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.999f, 0.01f, 0.0f)),
      (4L, Array(0.8f, 0.0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, k = 2, iters = 1, tau = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(3L)._2 === 0L)                  // near-dup of 1 → dropped
    assert(got(1L)._2 === 1L)                  // the min id survives
    assert(got(2L)._2 === 1L && got(4L)._2 === 1L)
    assert(got(3L)._1 === got(1L)._1)          // same cluster as its dup
    assert(got.size === 4)
  }

  test("incrementalComponents: bridging a new doc merges old clusters; equals full recompute") {
    // old clusters {1,2,3} and {5,6}; new doc 7 bridges them, new doc
    // 9 starts a fresh pair with old-singleton 8
    val oldEdges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val newEdges = Seq((2L, 7L), (5L, 7L), (8L, 9L)).toDF("doc_a", "doc_b")
    val oldLabels = Dedup.components(oldEdges)
    val inc = Dedup.incrementalComponents(oldLabels, newEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.components(oldEdges.unionByName(newEdges)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc(7L) === 1L && inc(6L) === 1L) // bridged → one component, min label
    assert(inc(9L) === 8L)

    // and on the real fixture corpus with the q135 old/new split
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = pmod(col("doc_id"), lit(7)) === 0
    val allPairs = Dedup.coShinglePairs(docs, minShared = 2, maxPostings = 1000)
    val incReal = Dedup.incrementalComponents(
      Dedup.components(Dedup.coShinglePairs(docs.filter(!isNew),
        minShared = 2, maxPostings = 1000)),
      allPairs.filter(pmod(col("doc_a"), lit(7)) === 0 ||
        pmod(col("doc_b"), lit(7)) === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullReal = Dedup.components(allPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incReal === fullReal)
  }

  test("pairSetEval: recall and precision from hand-built pair sets") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val cand = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val r = Dedup.pairSetEval(exact, cand).collect().head
    assert(r.getAs[Long]("n_exact") === 3L)
    assert(r.getAs[Long]("n_candidate") === 3L)
    assert(r.getAs[Long]("n_common") === 2L)
    assert(r.getAs[Long]("recall_micro") === 666667L)
    assert(r.getAs[Long]("precision_micro") === 666667L)
  }

  test("shingleOverlap: hand-computed set audit between two snapshots") {
    // a: "a b c d" → {abc, bcd}; b: "b c d e f" → {bcd, cde, def}
    // common {bcd} → jaccard 1/4, containments 1/2 and 1/3 (truncated)
    val a = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val b = Seq((2L, "b c d e f")).toDF("doc_id", "text")
    val r = Dedup.shingleOverlap(a, b).collect().head
    assert(r.getAs[Long]("n_shingles_a") === 2L)
    assert(r.getAs[Long]("n_shingles_b") === 3L)
    assert(r.getAs[Long]("n_common") === 1L)
    assert(r.getAs[Long]("n_union") === 4L)
    assert(r.getAs[Double]("jaccard") === 0.25)
    assert(r.getAs[Double]("containment_a") === 0.5)
    assert(r.getAs[Double]("containment_b") === 0.3333)
    // identical corpora: full overlap on every measure
    val s = Dedup.shingleOverlap(a, a.withColumn("doc_id", lit(9L)))
      .collect().head
    assert(s.getAs[Double]("jaccard") === 1.0)
    assert(s.getAs[Long]("n_union") === 2L)
  }

  test("coShinglePairsTouching equals the post-filtered full pair set") {
    // the incremental pair-gen (new side restricted BEFORE expansion)
    // must emit exactly the full expansion filtered to pairs touching
    // a new doc — same pairs, same orientation, no extras
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = pmod(col("doc_id"), lit(7)) === 0
    val filtered = Dedup.coShinglePairs(docs, minShared = 2,
        maxPostings = 1000)
      .filter(pmod(col("doc_a"), lit(7)) === 0 ||
        pmod(col("doc_b"), lit(7)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val touching = Dedup.coShinglePairsTouching(docs, isNew,
        minShared = 2, maxPostings = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(touching === filtered)
    assert(touching.nonEmpty)
    assert(touching.forall { case (a, b) => a < b })
  }

  test("clusterWeights: 1/|cluster| weights, singletons weight 1e6") {
    val chainDocs = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "solo"), (10L, "x"), (11L, "y"))
      .toDF("doc_id", "text")
    val comps = Dedup.components(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
    val got = Dedup.clusterWeights(chainDocs, comps).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((1L, 3L, 333333L)))  // cluster {1,2,3}
    assert(got(2L) === ((1L, 3L, 333333L)))
    assert(got(3L) === ((1L, 3L, 333333L)))
    assert(got(4L) === ((4L, 1L, 1000000L))) // singleton = own component
    assert(got(10L) === ((10L, 2L, 500000L)))
    assert(got(11L) === ((10L, 2L, 500000L)))
    // the cluster's mass sums to one doc's worth (± micro rounding)
    assert(Seq(1L, 2L, 3L).map(got(_)._3).sum === 999999L)
  }

  test("dimStats: per-dimension mean/std/min/max from micro-quantized sums") {
    val emb = Seq(
      (1L, Array(1.0f, -2.0f)),
      (2L, Array(3.0f, 2.0f)),
      (3L, Array(5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimStats(emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d0 = got(0L)
    assert(d0.getAs[Long]("n") === 3L)
    assert(d0.getAs[Double]("mean_value") === 3.0)
    // population std of (1,3,5) = sqrt(8/3)
    assert(math.abs(d0.getAs[Double]("std_value") - math.sqrt(8.0 / 3)) < 1e-6)
    assert(d0.getAs[Double]("min_value") === 1.0)
    assert(d0.getAs[Double]("max_value") === 5.0)
    val d1 = got(1L)
    assert(d1.getAs[Double]("mean_value") === 0.0)
    assert(d1.getAs[Double]("min_value") === -2.0)
    assert(got.size === 2)
  }

  // a small deterministic corpus for the refine/sweep gates: 12
  // pseudo-random unit-ish vectors in 4 dims (fixed arithmetic seeds)
  private lazy val refineEmb = {
    val rows = (0L until 12L).map { i =>
      val a = ((i * 37 + 11) % 17).toFloat / 17f
      val b = ((i * 53 + 5) % 19).toFloat / 19f
      val c = ((i * 71 + 3) % 23).toFloat / 23f
      val d = ((i * 89 + 7) % 29).toFloat / 29f
      (i, Array(a, b, c, d))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("refineTopK over the full pair set equals bruteTopK") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val all = q.select(col("vec_id").as("qid"))
      .crossJoin(refineEmb.select(col("vec_id").as("cid")))
      .filter(col("qid") =!= col("cid"))
    val got = Similarity.refineTopK(refineEmb, q, all, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val want = Similarity.bruteTopK(refineEmb, q, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSeq === want.toSeq)
  }

  test("refineUpliftStats: refined >= unrefined (theorem flag), recall in [0,1]") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val idx = Similarity.pqBuild(refineEmb, m = 2, dsub = 2, kCodes = 4)
    val row = Similarity.refineUpliftStats(idx, refineEmb, q, k = 3,
      r = 8, nCentroids = 4, nProbe = 2).collect()(0)
    assert(row.getAs[Long]("n_q") === 3L)
    assert(row.getAs[Long]("refined_ge_unrefined") === 1L)
    val rm = row.getAs[Long]("mean_recall_refined_micro")
    val um = row.getAs[Long]("mean_recall_unrefined_micro")
    assert(rm >= um && rm <= 1000000L && um >= 0L)
  }

  test("ivfRecallSweep: monotone recall, nested candidates, full probe = recall 1") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val got = Similarity.ivfRecallSweep(refineEmb, q, k = 3,
      nCentroids = 4, nProbes = Seq(1, 2, 4)).collect()
    assert(got.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L))
    assert(got.forall(_.getAs[Long]("recall_monotone_ok") === 1L))
    val recalls = got.map(_.getAs[Long]("mean_recall_micro"))
    assert(recalls.sameElements(recalls.sorted))
    val cands = got.map(_.getAs[Long]("n_cand"))
    assert(cands.sameElements(cands.sorted))
    // probing every cell makes the scan exact
    assert(recalls.last === 1000000L)
    assert(cands.last === 3L * 11L)
  }

  test("pc1PowerIteration recovers a planted dominant axis") {
    // variance concentrated on dim 1; dim 0 carries a small wiggle,
    // dim 2 is constant (zero variance)
    val emb = Seq(
      (1L, Array(0.11f, 2.0f, 0.5f)),
      (2L, Array(0.09f, -2.0f, 0.5f)),
      (3L, Array(0.11f, 1.0f, 0.5f)),
      (4L, Array(0.09f, -1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pc1PowerIteration(emb).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size === 3)
    // canonical sign: the dominant dim's loading is +1e6 exactly
    assert(got(1L).getAs[Long]("loading_micro") === 1000000L)
    assert(math.abs(got(0L).getAs[Long]("loading_micro")) < 50000L)
    assert(got(2L).getAs[Long]("loading_micro") === 0L)
    // almost all variance on the planted axis
    assert(got(1L).getAs[Long]("ev_ratio_micro") > 900000L)
  }

  test("pc1PowerIteration is partitioning-invariant (exact integer moments)") {
    val a = Similarity.pc1PowerIteration(refineEmb).collect().toSeq
    val b = Similarity.pc1PowerIteration(refineEmb.repartition(7))
      .collect().toSeq
    assert(a.map(_.toString).sorted === b.map(_.toString).sorted)
  }

  test("refineUpliftStats on an IVF index: refined >= unrefined on the residual path") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val idx = Similarity.residualPqBuild(refineEmb, nCentroids = 4,
      m = 2, dsub = 2, kCodes = 4)
    val row = Similarity.refineUpliftStats(idx, refineEmb, q,
      k = 3, r = 8, nProbe = 2).collect()(0)
    assert(row.getAs[Long]("n_q") === 3L)
    assert(row.getAs[Long]("refined_ge_unrefined") === 1L)
    assert(row.getAs[Long]("mean_recall_refined_micro") <= 1000000L)
  }

  // one index type serves both kinds, so each search (and the
  // flat-only erase) checks the kind it was handed; the builds are
  // tiny, and the guards fire before either index is read
  private lazy val tinyFlat =
    Similarity.pqBuild(refineEmb, m = 2, dsub = 2, kCodes = 4)
  private lazy val tinyIvf = Similarity.residualPqBuild(refineEmb,
    nCentroids = 4, m = 2, dsub = 2, kCodes = 4)

  test("pqAdcSearch rejects an IVF index, naming the kind") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqAdcSearch(tinyIvf, refineEmb, k = 3)
    }
    assert(e.getMessage.contains("pqAdcSearch needs a flat PQ index"))
    assert(e.getMessage.contains("this one is IVF"))
  }

  test("ivfPqSearch rejects an IVF index, naming the kind") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearch(tinyIvf, refineEmb, refineEmb, k = 3,
        nCentroids = 4, nProbe = 2)
    }
    assert(e.getMessage.contains("ivfPqSearch needs a flat PQ index"))
    assert(e.getMessage.contains("this one is IVF"))
  }

  test("erasePqIndex rejects an IVF index, naming the kind") {
    val e = intercept[IllegalArgumentException] {
      Similarity.erasePqIndex(tinyIvf, refineEmb.select(col("vec_id")))
    }
    assert(e.getMessage.contains("erasePqIndex needs a flat PQ index"))
    assert(e.getMessage.contains("this one is IVF"))
  }

  test("residualPqSearch rejects a flat index, naming the kind") {
    val e = intercept[IllegalArgumentException] {
      Similarity.residualPqSearch(tinyFlat, refineEmb, k = 3, nProbe = 2)
    }
    assert(e.getMessage.contains("residualPqSearch needs an IVF PQ index"))
    assert(e.getMessage.contains("this one is flat"))
  }

  test("ivfCellDriftStats: identical cohort shares give psi 0; a shift doesn't") {
    val same = Seq(
      (1L, 0L, false), (2L, 0L, true), (3L, 1L, false), (4L, 1L, true),
      (5L, 0L, false), (6L, 0L, true))
      .toDF("id", "c_id", "cur")
    val r0 = Similarity.ivfCellDriftStats(same, col("cur")).collect()(0)
    assert(r0.getAs[Long]("n_ref") === 3L && r0.getAs[Long]("n_cur") === 3L)
    assert(r0.getAs[Long]("n_cells") === 2L)
    assert(r0.getAs[Long]("n_scored_cells") === 2L)
    assert(r0.getAs[Long]("psi_micro") === 0L)
    // current cohort concentrates entirely in cell 0: cell 1 has no
    // current member (unscored but counted), psi clearly positive
    val shifted = Seq(
      (1L, 0L, false), (2L, 0L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 0L, true), (6L, 0L, true))
      .toDF("id", "c_id", "cur")
    val r1 = Similarity.ivfCellDriftStats(shifted, col("cur")).collect()(0)
    assert(r1.getAs[Long]("n_cells") === 2L)
    assert(r1.getAs[Long]("n_scored_cells") === 1L)
    assert(r1.getAs[Long]("psi_micro") > 100000L)
  }

  test("prefixTopK over the full dimensionality equals bruteTopK") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val got = Similarity.prefixTopK(refineEmb, q, 4, prefixDims = 4)
      .collect().map(_.toString)
    val want = Similarity.bruteTopK(refineEmb, q, 4)
      .collect().map(_.toString)
    assert(got.toSeq === want.toSeq)
  }

  test("prefixRefineUpliftStats: refined >= unrefined (theorem flag)") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val row = Similarity.prefixRefineUpliftStats(refineEmb, q, k = 3,
      r = 8, prefixDims = 2).collect()(0)
    assert(row.getAs[Long]("n_q") === 3L)
    assert(row.getAs[Long]("refined_ge_unrefined") === 1L)
  }

  test("quantizeInt4: codes bounded to ±7, zero-vector edge, exact on grid") {
    val emb = Seq(
      (1L, Array(7.0f, -7.0f, 3.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt4(emb).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("q_scale"), r.getSeq[Byte](3).toSeq)).toMap
    // scale = 7/7 = 1; grid-aligned values quantize exactly
    assert(got(1L) === ((1.0, Seq[Byte](7, -7, 3, 0))))
    assert(got(2L) === ((0.0, Seq[Byte](0, 0, 0, 0))))
    val all = Similarity.quantizeInt4(refineEmb).collect()
      .flatMap(_.getAs[scala.collection.Seq[Byte]]("q_codes"))
    assert(all.forall(c => c >= -7 && c <= 7))
  }

  test("sq4TopK equals bruteTopK on a grid-exact fixture") {
    // one-hot-ish vectors whose components are exact multiples of
    // max/7 — quantization is lossless, so the ranking is exact
    val emb = (0L until 6L).map { i =>
      val v = Array.fill(4)(0.0f); v((i % 4).toInt) = 7.0f
      v(((i + 1) % 4).toInt) = (i % 3).toFloat
      (i, v)
    }.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 2)
    val got = Similarity.sq4TopK(emb, q, 3).collect().map(_.toString)
    val want = Similarity.bruteTopK(emb, q, 3).collect().map(_.toString)
    assert(got.toSeq === want.toSeq)
  }

  test("bqPack: bits land in the right words with the right weights") {
    // dim 4 (one word); thresholds 0 → bit_d = 1 iff x_d > 0
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)), // bits 1010 LSB-first → 5
      (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)), // bits 0101 → 10
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f)), // 15
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))  // 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.bqPack(emb, Array(0.0, 0.0, 0.0, 0.0))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got === Map(0L -> Seq(5L), 1L -> Seq(10L), 2L -> Seq(15L),
      3L -> Seq(0L)))
  }

  test("bqTopK: Hamming ranking with cid tie-breaks, self excluded") {
    // mean thresholds split the one-hot fixture cleanly; identical
    // binary codes tie at Hamming 0 and must order by cid
    val q = refineEmb.filter(col("vec_id") < 2)
    val got = Similarity.bqTopK(refineEmb, q, k = 3).collect()
    assert(got.length === 6)
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3))
      assert(rows.forall(_.getLong(1) != qid)) // self excluded
      // hamming non-decreasing with rank; ties ordered by cid
      val byRank = rows.sortBy(_.getInt(3))
      assert(byRank.map(_.getLong(2)).toSeq ===
        byRank.map(_.getLong(2)).sorted.toSeq)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          if (a.getLong(2) == b.getLong(2))
            assert(a.getLong(1) < b.getLong(1))
        case _ => ()
      }
    }
  }

  test("bqRefineUpliftStats: refined >= unrefined (the q210 theorem)") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val row = Similarity.bqRefineUpliftStats(refineEmb, q, k = 3, r = 8)
      .collect()(0)
    assert(row.getLong(0) === 3L)                 // n_q
    assert(row.getLong(5) === 1L)                 // refined_ge_unrefined
    assert(row.getLong(3) >= row.getLong(4))      // micro means agree
  }

  test("bq training is reduce-order-free across partitionings") {
    val a = Similarity.bqThresholds(refineEmb.repartition(1))
    val b = Similarity.bqThresholds(refineEmb.repartition(7))
    assert(a.toSeq === b.toSeq)
  }

  test("rankingStats: MRR and nDCG match hand computation") {
    // exact top-3 = {10, 11, 12}; approx ranks: 11@1, 99@2, 10@3
    // rel ranks {1, 3}: rr = 1000000 div 1; dcg = wt(1) + wt(3) =
    // 1000000 + 500000; idcg = pfx(3) = 2130930 (wt(2) = 630930) →
    // ndcg = 1500000·10⁶ div 2130930 = 703918
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("qid", "cid")
    val approx = Seq((1L, 11L, 1), (1L, 99L, 2), (1L, 10L, 3))
      .toDF("qid", "cid", "rank")
    val r = Similarity.rankingStats(exact, approx, k = 3).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4)) ===
      ((1L, 1000000L, 1000000L, 703918L, 703918L)))
  }

  test("rankingStats: a query with zero relevant rows scores 0, not dropped") {
    val exact = Seq((1L, 10L), (2L, 20L)).toDF("qid", "cid")
    val approx = Seq((1L, 10L, 1), (2L, 99L, 1)).toDF("qid", "cid", "rank")
    val r = Similarity.rankingStats(exact, approx, k = 1).collect()(0)
    assert(r.getLong(0) === 2L)           // both queries counted
    assert(r.getLong(1) === 1000000L)     // only q1 contributes
    assert(r.getLong(2) === 500000L)      // mean over BOTH
  }

  test("pc1SubspacePermutation: a valid permutation, order-free across partitionings") {
    val a = Similarity.pc1SubspacePermutation(refineEmb.repartition(1),
      m = 2, dsub = 2)
    val b = Similarity.pc1SubspacePermutation(refineEmb.repartition(7),
      m = 2, dsub = 2)
    assert(a.toSeq === b.toSeq)
    assert(a.sorted.toSeq === (0 until 4))
  }

  test("permutedPqUpliftStats: one integer gate row, recalls bounded") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val row = Similarity.permutedPqUpliftStats(refineEmb, q, k = 3,
      m = 2, dsub = 2, kCodes = 4)
    val r = row.collect()(0)
    assert(r.getLong(0) === 3L) // n_q
    Seq(3, 4).foreach(i =>
      assert(r.getLong(i) >= 0L && r.getLong(i) <= 1000000L))
    assert(r.getLong(5) === 0L || r.getLong(5) === 1L)
  }

  test("quantLadderStats: raw anchor is exact, all tiers bounded, one row each") {
    val q = refineEmb.filter(col("vec_id") < 3)
    val idx = Similarity.pqBuild(refineEmb, m = 2, dsub = 2, kCodes = 4)
    val got = Similarity.quantLadderStats(idx, refineEmb, q, k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(got.size === 5)
    assert(got("raw_float32") === ((1L, 3L, 1000000L)))
    Seq("sq8_int8", "sq4_int4", "pq_2x4", "bq_1bit").foreach { t =>
      val (_, nq, rm) = got(t)
      assert(nq === 3L && rm >= 0L && rm <= 1000000L)
    }
    // compression DERIVED from the index geometry: this fixture's
    // m=2/dsub=2 one-byte codes over 4 float32 dims are 8× (genuinely
    // tying SQ4 — the round-12 hardcoded 16× misreported exactly this)
    assert(got("pq_2x4")._1 === 8L)
    assert(got("bq_1bit")._1 === 32L)
    assert(got.values.map(_._1).toSeq.sorted === Seq(1L, 4L, 8L, 8L, 32L))
  }

  test("pqRetrainBenefitStats: retrain wins on a drifted delta; flag consistent") {
    // base clusters along axis 0 (with small wiggle), delta along
    // axis 2 — codebooks frozen on the base quantize the delta badly,
    // retraining on the full corpus must reduce the mean error
    val base = (0L until 8L).map { i =>
      (i, Array(1.0f, (i % 3).toFloat / 10f, 0.0f, 0.0f))
    }
    val delta = (8L until 12L).map { i =>
      (i, Array(0.0f, 0.0f, 1.0f, (i % 2).toFloat / 10f))
    }
    val emb = (base ++ delta).toDF("vec_id", "embedding")
    val baseDf = emb.filter(col("vec_id") < 8)
    val deltaDf = emb.filter(col("vec_id") >= 8)
    val grown = Similarity.pqIndexAdd(
      Similarity.pqBuild(baseDf, m = 2, dsub = 2, kCodes = 4), deltaDf)
    val retrained = Similarity.pqBuild(emb, m = 2, dsub = 2, kCodes = 4)
    val row = Similarity.pqRetrainBenefitStats(grown, retrained, emb)
      .collect()(0)
    assert(row.getAs[Long]("n_vecs") === 12L)
    assert(row.getAs[Long]("retrain_improves") === 1L)
    assert(row.getAs[Long]("mean_err_retrained") <=
      row.getAs[Long]("mean_err_grown"))
  }

  test("bitextMutualStats: mutual-top-1 yield; a hub target pairs with " +
      "only its best source") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),  // en
      (1L, Array(0.9f, 0.1f)),  // de -> best en is 0, and 0's best de is 1
      (2L, Array(0.0f, 1.0f)),  // en
      (3L, Array(0.1f, 0.9f)),  // de -> mutual with 2
      (4L, Array(0.8f, 0.2f)))  // de -> best en is 0, but 0 prefers 1
      .toDF("vec_id", "embedding")
    val langs = Seq((0L, "en"), (1L, "de"), (2L, "en"), (3L, "de"),
      (4L, "de")).toDF("vec_id", "lang")
    val got = Similarity.bitextMutualStats(emb, langs, nCentroids = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(("de", 3L, 2L, 666666L)))
  }

  test("erasePqIndex: deleted ids vanish from codes and every top-k; " +
      "codebooks stay frozen") {
    val emb = (0L until 12L).map(i =>
      (i, Array((i % 4).toFloat, 1.0f, 0.2f * (i % 5), (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.pqBuild(emb, m = 2, dsub = 2, kCodes = 4)
    val erased = Similarity.erasePqIndex(idx, Seq(3L, 7L).toDF("vec_id"))
    assert(erased.codes.filter(col("id").isin(3L, 7L)).count() === 0L)
    assert(erased.codes.count() === idx.codes.count() - 2 * idx.m)
    val hits = Similarity.pqAdcSearch(erased,
        emb.filter(col("vec_id") < 3), k = 5)
      .select("cid").as[Long].collect()
    assert(hits.nonEmpty && !hits.contains(3L) && !hits.contains(7L))
    // remove_ids() semantics: the codebooks are the SAME object
    assert(erased.cents eq idx.cents)
  }

  test("ivfCellStats: exact counts, shares and imbalance on a planted corpus") {
    // seeds are the two smallest ids; 4 vectors land with seed 0,
    // 2 with seed 1 → shares 4/6 and 2/6, imbalance = 4·2/6 = 1.33x
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.95f, 0.05f)),
      (4L, Array(0.8f, 0.2f)), (5L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfCellStats(emb, nCentroids = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size === 2)
    assert(got(0L).getAs[Long]("n_vecs") === 4L)
    assert(got(1L).getAs[Long]("n_vecs") === 2L)
    assert(got(0L).getAs[Long]("share_micro") === 666666L)
    assert(got(1L).getAs[Long]("share_micro") === 333333L)
    got.values.foreach { r =>
      assert(r.getAs[Long]("imbalance_micro") === 1333333L)
      assert(r.getAs[Long]("balance_ok") === 1L)
    }
  }

  test("lshBandSweep: finer banding finds the marginal pair; monotone + cost rows") {
    // C/D are exact dups (caught at every setting); A/B share ~57% of
    // their shingles — a marginal pair a 16-min band practically never
    // collides on, while 4-min bands catch it
    val w = (1 to 20).map(i => s"w$i")
    val a = w.mkString(" ")
    val b = (w.take(15) ++ (16 to 20).map(i => s"v$i")).mkString(" ")
    val c = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, c))
      .toDF("doc_id", "text")
    val got = Dedup.lshBandSweep(docs, threshold = 0.5, k = 64,
      bandsList = Seq(4, 8, 16), scheme = Dedup.OracleHash).collect()
    assert(got.map(_.getAs[Long]("bands")).toSeq === Seq(4L, 8L, 16L))
    assert(got.forall(_.getAs[Long]("recall_monotone_ok") === 1L))
    val recalls = got.map(_.getAs[Long]("recall_micro"))
    assert(recalls.sameElements(recalls.sorted))
    // the exact dup pair anchors recall > 0 everywhere; the marginal
    // pair lifts recall at the finest setting above the coarsest
    assert(recalls.head >= 500000L)
    assert(recalls.last === 1000000L)
    val raw = got.map(_.getAs[Long]("n_raw_candidates"))
    assert(raw.sameElements(raw.sorted))
  }

  test("lshBandSweep equals a plain-Scala recount over its signatures " +
      "and exact pairs, with and without a bucket cap") {
    val corpus = spark.read.parquet(sf("documents"))
    val (k, bandsList, threshold) = (64, Seq(4, 8, 16), 0.5)
    val sigs = Dedup.minhashSignatures(corpus, k, scheme = Dedup.OracleHash)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val exact = Dedup.jaccardPairs(corpus, threshold, maxPostings = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a band bucket is (band, band slice): equal slices collide (the
    // band hash only stands in for the slice)
    def recount(cap: Int): Seq[Seq[Option[Long]]] = bandsList.map { bands =>
      val r = k / bands
      val cand = (0 until bands).flatMap { b =>
        sigs.toSeq.groupBy(_._2.slice(b * r, b * r + r)).values
          .filter(_.size <= cap).flatMap { bucket =>
            val ids = bucket.map(_._1).sorted
            for (i <- ids; j <- ids if i < j) yield (i, j)
          }
      }.toSet
      val verified = cand.filter { case (a, b) =>
        val same = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
        math.floor(same.toDouble / k * 10000) / 10000 >= threshold
      }
      val common = (exact & verified).size.toLong
      def micro(d: Long) = Option.when(d > 0)(common * 1000000L / d)
      Seq(bands.toLong, exact.size.toLong, cand.size.toLong,
        verified.size.toLong, common).map(n => Option(n)) ++
        Seq(micro(exact.size.toLong), micro(verified.size.toLong))
    }
    for (cap <- Seq(Int.MaxValue, 2)) {
      val got = Dedup.lshBandSweep(corpus, threshold, k, bandsList,
          maxPostings = 1000, maxBucketSize = cap, scheme = Dedup.OracleHash)
        .collect().map(r => (0 until 7).map(i =>
          Option.unless(r.isNullAt(i))(r.getLong(i))))
        .toSeq
      val want = recount(cap)
      assert(got === want, s"maxBucketSize=$cap")
      assert(want.exists(_(2).exists(_ > 0)),
        "the corpus must produce candidates")
    }
    assert(recount(2) != recount(Int.MaxValue), "the cap must bite")
  }

  test("shardedTopK equals the unsharded brute scan (exactness theorem)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // any shard count: the union of shard-local top-k contains the
    // global top-k, and the gather re-rank recovers it bit-for-bit
    for (s <- Seq(1, 3, 8)) {
      val sharded = Similarity.shardedTopK(emb, q, k = 5, nShards = s)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(sharded.toSeq === brute.toSeq, s"nShards=$s")
    }
  }

  test("filteredIvfTopK: results inside allowlist; full allowlist == ivfTopK") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("label") < 3)
    val got = Similarity.filteredIvfTopK(emb, q, allowed, k = 5)
    val allowedIds = allowed.select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => allowedIds.contains(r.getLong(1))),
      "every filtered-search hit must satisfy the predicate")
    // degenerate filter (allow everything) must reduce to the plain scan
    val unfiltered = Similarity.ivfTopK(emb, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val full = Similarity.filteredIvfTopK(emb, q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.toSeq === unfiltered.toSeq)
  }

  test("filteredSearchRecallStats: one gate row, sane selectivity and recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 5)
    val row = Similarity.filteredSearchRecallStats(emb, q,
      emb.filter(col("label") < 3), k = 5).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getLong(0) === 5L)                       // n_q
    assert(r.getLong(1) === 157L)                     // n_allowed at sf0.001
    assert(r.getLong(2) === 157L * 1000000L / 500L)   // selectivity_micro
    val recall = r.getLong(4)
    assert(recall >= 0L && recall <= 1000000L)
  }

  test("knnWithinBlocks at k=1 matches nnWithinBlocks' argmax") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k1 = Similarity.knnWithinBlocks(emb, k = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val nn = Similarity.nnWithinBlocks(emb)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(k1 === nn)
  }

  test("mutualKnnPairs: reciprocal only, ordered, and ranks consistent") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val knn = Similarity.knnWithinBlocks(emb, k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    val got = Similarity.mutualKnnPairs(emb, k = 5).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b)
      // mutuality: both directions present in the kNN frame, ranks match
      assert(knn(a -> b) === r.getInt(3), s"rank_ab for ($a,$b)")
      assert(knn(b -> a) === r.getInt(4), s"rank_ba for ($a,$b)")
    }
    // completeness: every reciprocal kNN pair appears exactly once
    val expected = knn.keySet.filter { case (a, b) =>
      a < b && knn.contains(b -> a) }
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
  }

  test("indexTierAdvisor: highest qualifying compression, fallback on none") {
    import spark.implicits._
    val ladder = Seq(
      ("raw", 1L, 10L, 50L, 1000000L),
      ("sq8", 4L, 10L, 49L, 980000L),
      ("sq4", 8L, 10L, 43L, 860000L),
      ("pq", 16L, 10L, 21L, 420000L))
      .toDF("tier", "compression_x", "n_q", "sum_hits", "mean_recall_micro")
    val pick = Similarity.indexTierAdvisor(ladder, 800000L).collect().head
    assert(pick.getString(0) === "sq4")
    assert(pick.getLong(1) === 8L)
    assert(pick.getLong(4) === 4L && pick.getLong(5) === 3L)
    // impossible floor: nothing qualifies, fall back to best recall
    // with the n_qualifying = 0 alarm
    val none = Similarity.indexTierAdvisor(ladder, 1000001L).collect().head
    assert(none.getString(0) === "raw" && none.getLong(5) === 0L)
  }

  test("sampleCoverageStats: full sample is perfectly proportional") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = Similarity.sampleCoverageStats(emb, lit(true)).collect().head
    assert(full.getLong(1) === full.getLong(0))   // all cells covered
    assert(full.getLong(2) === 1000000L)
    assert(full.getLong(3) === 0L)                // TV distance zero
    // a single-cell sample: low coverage, large TV
    val one = Similarity.sampleCoverageStats(emb,
      col("vec_id") === 0L).collect().head
    assert(one.getLong(1) === 1L)
    assert(one.getLong(3) > 900000L)
    // empty sample: the guard keeps the division defined; coverage 0
    // is the alarm
    val empty = Similarity.sampleCoverageStats(emb, lit(false)).collect().head
    assert(empty.getLong(1) === 0L && empty.getLong(2) === 0L)
  }

  test("hotCellSplit: hot cells split in two, cold cells untouched, mass conserved") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val before = Similarity.ivfAssign(emb, 16, 1)
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = before.values.sum
    val hotCells = before.filter { case (_, n) =>
      n * 1000000L / total > 70000L }.keySet
    val got = Similarity.hotCellSplit(emb, maxShareMicro = 70000L).collect()
    // mass conservation: every vector lands in exactly one new cell
    assert(got.map(_.getLong(2)).sum === total)
    got.foreach { r =>
      val (parent, newCell, split) =
        (r.getLong(0), r.getLong(1), r.getLong(4))
      if (hotCells.contains(parent)) assert(split === 1L)
      else {
        // cold cells: identical row to the pre-split layout
        assert(newCell === parent && split === 0L)
        assert(r.getLong(2) === before(parent))
      }
    }
    // each hot cell produced exactly two sub-cells whose counts sum
    // to the original
    hotCells.foreach { h =>
      val subs = got.filter(_.getLong(0) == h)
      assert(subs.length === 2, s"cell $h")
      assert(subs.map(_.getLong(2)).sum === before(h))
    }
  }

  test("kCenterSelect: farthest-first picks one exemplar per cluster first") {
    import spark.implicits._
    // three tight clusters on orthogonal axes + the deterministic
    // smallest-id start: picks 1-3 must cover all three clusters
    // before any cluster repeats
    val emb = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f), 0), (2L, Array(1.0f, 0.02f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.01f), 1), (4L, Array(0.0f, 1.0f, 0.02f), 1),
      (5L, Array(0.01f, 0.0f, 1.0f), 2), (6L, Array(0.02f, 0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val picks = graft.ext.Retrieval.kCenterSelect(emb, emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(picks.head === (1L, 1L)) // smallest id starts
    val clusters = picks.map { case (_, id) =>
      if (id <= 2) 0 else if (id <= 4) 1 else 2 }
    assert(clusters.toSet.size === 3,
      s"first 3 picks must span all clusters, got ${picks.toSeq}")
  }

  test("knnLabelVoteStats: clean clusters classify, an off-cluster point doesn't") {
    import spark.implicits._
    // two tight 3-member clusters (orthogonal axes) + vec 99 sitting
    // in cluster 0's region with cluster 1's label: every clustered
    // vector's neighbors vote its own label; 99's neighbors all vote 0
    val emb = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f), 0), (2L, Array(1.0f, 0.02f, 0.0f), 0),
      (3L, Array(1.0f, 0.03f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.01f), 1), (5L, Array(0.0f, 1.0f, 0.02f), 1),
      (6L, Array(0.0f, 1.0f, 0.03f), 1),
      (99L, Array(1.0f, 0.04f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelVoteStats(emb, k = 3, nCentroids = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) === ((3L, 3L, 1000000L)))
    // label 1: the three clustered vectors classify, 99 is misvoted
    assert(got(1L)._1 === 4L && got(1L)._2 === 3L)
    assert(got(1L)._3 === 3L * 1000000L / 4L)
  }

  test("effectiveDimStats: isotropic spread reads full rank, collapse reads ~1") {
    import spark.implicits._
    def frame(vecs: Seq[Array[Float]]) = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
    // equal variance in both dims -> PR = 2 (full rank)
    val iso = frame(Seq(Array(1f, 1f), Array(-1f, -1f),
      Array(1f, -1f), Array(-1f, 1f)))
    val isoRow = Similarity.effectiveDimStats(iso).collect().head
    assert(isoRow.getLong(0) === 2L && isoRow.getLong(1) === 4L)
    assert(isoRow.getLong(2) === 2000000L)
    assert(isoRow.getLong(3) === 500000L)
    // all variance on dim 0 -> PR = 1, max share 1.0
    val flat = frame(Seq(Array(1f, 0.5f), Array(-1f, 0.5f),
      Array(2f, 0.5f), Array(-2f, 0.5f)))
    val flatRow = Similarity.effectiveDimStats(flat).collect().head
    assert(flatRow.getLong(2) === 1000000L)
    assert(flatRow.getLong(3) === 1000000L)
  }

  test("FromKnn seams: one shared graph feeds all three consumers identically") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val knn = Similarity.knnWithinBlocks(emb, 5).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Similarity.mutualKnnPairsFromKnn(knn)) ===
      rows(Similarity.mutualKnnPairs(emb, 5)))
    assert(rows(Similarity.hubnessStatsFromKnn(knn)) ===
      rows(Similarity.hubnessStats(emb)))
    assert(rows(Similarity.knnLabelVoteStatsFromKnn(knn,
        emb.select(col("vec_id"), col("label")))) ===
      rows(Similarity.knnLabelVoteStats(emb)))
  }

  test("nearDupThresholdSweep: nesting holds and counts match per-point filters") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ts = Seq(200000L, 300000L, 400000L)
    val got = Similarity.nearDupThresholdSweep(emb, ts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === ts)
    assert(got.forall(_._4 === 1L), "nesting theorem")
    // counts are non-increasing and the top point matches a direct
    // blocked-pair filter
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    val direct = Similarity.nearDupPairsBlocked(emb, threshold = 0.4)
      .count()
    // the sweep pins sims at 6-dp micros, the pair op at 4 dp — the
    // two counts can differ only by boundary-straddling pairs; both
    // count the same frame, so direct >= sweep@0.4 can only differ by
    // pairs in [0.39995, 0.4) rounding up at 4 dp
    val sweep400 = got.find(_._1 == 400000L).get._2
    assert(math.abs(direct - sweep400) <= 3,
      s"direct=$direct sweep=$sweep400")
  }

  test("hubnessStats: a planted hub tops the table with the right share") {
    import spark.implicits._
    // orthogonal star: points 1..7 are basis directions (pairwise
    // cos 0), vec 50 is the all-ones center (cos 1/√7 ≈ 0.378 to
    // every point) — the center is every point's UNIQUE nearest
    // neighbor, so at k = 1 it holds 7 of the 8 list slots
    val star = (1 to 7).map { i =>
      val v = Array.fill(8)(0.0f); v(i - 1) = 1.0f
      (i.toLong, v, 0)
    }
    val hub = Array.fill(8)(1.0f); hub(7) = 0.0f
    val emb = (star :+ ((50L, hub, 0)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hubnessStats(emb, k = 1, topN = 3, nCentroids = 2)
      .collect()
    assert(got.head.getLong(0) === 1L)
    assert(got.head.getLong(1) === 50L, "the planted center is the top hub")
    assert(got.head.getLong(2) === 7L)
    val totalSlots = Similarity.knnWithinBlocks(emb, 1, 2).count()
    assert(got.head.getLong(3) ===
      got.head.getLong(2) * 1000000L / totalSlots)
  }

  test("every search ranks a 6-dp cosine tie and an equal ADC distance " +
      "by the smaller cid") {
    // query 100 scores 9 and 4 at exactly 1/√2 (listed larger id
    // first), and 8 and 7 are one vector, so any PQ index codes them
    // alike and every query sees one ADC distance for both
    val corpus = Seq(
      (9L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (6L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (8L, Array(0.3f, 0.8f, 0.2f, 0.1f)),
      (7L, Array(0.3f, 0.8f, 0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "cos_sim", "rank").collect().toSeq
    val brute = ranked(Similarity.bruteTopK(corpus, queries, 3))
    assert(brute.map(_.getLong(1)) === Seq(3L, 4L, 9L))
    assert(brute(1).getDouble(2) === brute(2).getDouble(2))
    val allPairs = queries.select(col("vec_id").as("qid"))
      .crossJoin(corpus.select(col("vec_id").as("cid")))
    val others = Seq(
      "prefixTopK" -> Similarity.prefixTopK(corpus, queries, 3, prefixDims = 4),
      "shardedTopK" -> Similarity.shardedTopK(corpus, queries, 3, nShards = 3),
      "ivfTopK" -> Similarity.ivfTopK(corpus, queries, 3,
        nCentroids = 2, nProbe = 2),
      "filteredIvfTopK" -> Similarity.filteredIvfTopK(corpus, queries,
        corpus, 3, nCentroids = 2, nProbe = 2),
      "refineTopK" -> Similarity.refineTopK(corpus, queries, allPairs, 3))
    others.foreach { case (name, df) =>
      assert(ranked(df) === brute, name)
    }
    val flat = Similarity.pqBuild(corpus, m = 2, dsub = 2, kCodes = 2)
    val ivf = Similarity.residualPqBuild(corpus, nCentroids = 2, m = 2,
      dsub = 2, kCodes = 2)
    Seq(
      "pqAdcSearch" -> Similarity.pqAdcSearch(flat, queries, 7),
      "ivfPqSearch" -> Similarity.ivfPqSearch(flat, corpus, queries, 7,
        nCentroids = 2, nProbe = 2),
      "residualPqSearch" -> Similarity.residualPqSearch(ivf, queries, 7,
        nProbe = 2)).foreach { case (name, df) =>
      val byCid = df.collect().map(r =>
        r.getAs[Long]("cid") -> (r.getAs[Long]("adist"), r.getAs[Int]("rank")))
        .toMap
      assert(byCid.size === 7, name)
      assert(byCid(7L)._1 === byCid(8L)._1, name)
      assert(byCid(7L)._2 + 1 === byCid(8L)._2, name)
    }
  }
}
