package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-retrieval primitives: fusing independent rankers (lexical
  * BM25, embedding cosine, link centrality, …) into one result list.
  * Extension tier — the standard first stage of a RAG / search stack
  * once a corpus has both a term index and an embedding index.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack et al.): each ranker contributes
    * 1/(c + rank) for the ids it ranked; ids missing from a ranker
    * contribute nothing for it. Returns the fused top `topK` as
    * (id, n_rankers, rrf_micro, rank).
    *
    * Every input is (id, rank) with rank 1-based — rankings are
    * positional, so the fusion is score-scale-free (the reason RRF
    * beats score averaging across heterogeneous rankers).
    *
    * Determinism: each reciprocal is micro-quantized to a BIGINT
    * before summing (integer sums are reduce-order-free), ties break
    * on id.
    *
    * Scale: inputs are top-N ranker outputs (N ~ 10²-10³ per query),
    * so the union + one aggregate is bounded by rankers × N rows —
    * never corpus-sized. The full-corpus work lives inside each
    * ranker, which is where LSH/IVF blocking already bounds it. */
  def rrf(rankings: Seq[DataFrame], c: Int = 60, topK: Int = 20,
          idCol: String = "id", rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    val normalized = rankings.map(_.select(
      col(idCol).as("id"),
      (round(lit(1e6) / (lit(c) + col(rankCol)))).cast("long")
        .as("contrib_micro")))
    val unioned = normalized.reduce(_.unionAll(_))
    val fused = unioned.groupBy(col("id"))
      .agg(count(lit(1)).as("n_rankers"),
        sum(col("contrib_micro")).as("rrf_micro"))
    val w = Window.orderBy(col("rrf_micro").desc, col("id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .orderBy(col("rank"))
  }

  /** Second-stage feature rerank over a fused candidate list — the
    * cross-encoder SLOT of a retrieve-then-rerank stack with a
    * deterministic linear scorer standing in for the model (no model
    * runtime in this environment; the Spark-side plumbing — candidate
    * join, per-feature normalization, weighted fusion, re-rank — is
    * the real, tested part; swap the scorer for a batched model UDF
    * without touching the shape). Each feature is an INTEGER column
    * keyed by id (quantize first — the repo convention); features are
    * min-max normalized to [0, 10⁶] OVER THE CANDIDATE SET (integer
    * floor division, so reranking is scale-free like RRF but keeps
    * score MAGNITUDE information RRF throws away), then summed with
    * integer weights. A candidate missing from a feature frame
    * contributes 0 for it (the RRF missing-id convention); a feature
    * frame with multiple rows per id contracts to max(f) (enforced —
    * duplicates would otherwise skew bounds and double-count); a
    * feature constant across candidates normalizes to 0 for all.
    *
    * Determinism: all-integer pipeline — (f − lo)·10⁶ div (hi − lo)
    * is exact and reduce-order-free; ties break on id. Feature span
    * must fit (hi − lo)·10⁶ in int64: span < 9·10¹².
    *
    * Scale: candidates are a top-K list (K ~ 10¹-10²) materialized
    * once (several consumers — one probe per feature); each feature
    * frame is probed by a BROADCAST candidate join (the corpus-sized
    * work stays inside the feature producers), bounds are a 1-row
    * broadcast back, and the final rank window runs over the
    * ≤ (features+1)·K contribution rows contracted by one hash
    * aggregate — the rrf plan shape exactly. */
  def featureRerank(candidates: DataFrame,
                    features: Seq[(DataFrame, String, Long)],
                    topK: Int = 10,
                    idCol: String = "id"): DataFrame = {
    require(features.nonEmpty, "featureRerank needs at least one feature")
    import org.apache.spark.storage.StorageLevel
    val cand = candidates.select(col(idCol).as("id")).distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val zero = cand.select(col("id"), lit(0L).as("contrib"))
    val contribs = features.map { case (f, featCol, weight) =>
      // contract to ONE row per candidate id (max — deterministic,
      // order-free): a feature frame that wasn't pre-aggregated would
      // otherwise skew the bounds AND double-count contributions
      val fj = f.select(col(idCol).as("id"),
          col(featCol).cast("long").as("f"))
        .join(broadcast(cand), Seq("id"))
        .groupBy(col("id")).agg(max(col("f")).as("f"))
      // bounds as whole-frame window aggregates so fj's upstream plan
      // executes ONCE (a separate bounds aggregate + rejoin consumed
      // fj twice, replaying the feature producer's scan per feature).
      // The unpartitioned window is SAFE HERE ONLY because fj is the
      // candidate-set contraction (≤ K rows — EntrySpec's window gate
      // allowlists this shape over contractions).
      val wAll = Window.partitionBy()
      fj.select(col("id"), col("f"),
          min(col("f")).over(wAll).as("_lo"),
          max(col("f")).over(wAll).as("_hi"))
        .select(col("id"),
          (lit(weight) * coalesce(
            expr("(f - _lo) * 1000000 div nullif(_hi - _lo, 0)"),
            lit(0L))).as("contrib"))
    }
    val scored = (zero +: contribs).reduce(_.unionAll(_))
      .groupBy(col("id")).agg(sum(col("contrib")).as("rerank_micro"))
    val w = Window.orderBy(col("rerank_micro").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .orderBy(col("rank"))
  }

  /** Greedy Maximal-Marginal-Relevance selection (Carbonell & Goldstein
    * SIGIR'98) over per-query candidate lists — the diversity stage of
    * a retrieve-then-select stack, and the diverse-exemplar sampler of
    * a training-data curation pipeline (top-k by pure relevance
    * returns near-duplicates; MMR trades relevance against similarity
    * to what is already picked). Pick t maximizes
    * wRel·rel − wDiv·max_{s∈selected} sim(c, s), all integer micro.
    *
    * Inputs: `candidates` (qid, cid, rel_micro) — a bounded top-R list
    * per query; `pairSims` (qid, a, b, sim_micro) — candidate-pair
    * similarities of the SAME query's list, both directions present
    * (a≠b). A pair absent from `pairSims` contributes similarity 0.
    *
    * Determinism: all-integer scores; every argmax ties on cid — the
    * greedy trajectory is a total order and replays exactly in the
    * unrolled-step oracle.
    *
    * Scale: ONE cogrouped pass (r16 optimization — previously k
    * sequential DataFrame steps, each with its own checkpoint action
    * and window/join plan: the per-step scheduling overhead dominated
    * at any scale because the frames are shortlists by contract). The
    * greedy trajectory is a PER-QUERY sequential computation over a
    * bounded candidate list (≤ R rows and ≤ R² sims per query — the
    * corpus work lives in the first-stage retriever that produced the
    * lists), so it cogroups both inputs by qid and replays the exact
    * integer argmax loop in one task per query: one shuffle of the
    * skinny inputs, zero iteration round-trips. Per-group state is
    * O(R²) — the same bound the per-step join plans carried.
    *
    * Trajectory equivalence with the unrolled form (spec-pinned):
    * duplicate candidate rows behave as their best copy (the
    * row_number argmax picked the max-score duplicate; per-cid max rel
    * is the same row), duplicate sim rows behave as their max, a
    * candidate with no sim row to the selected set scores penalty 0,
    * and a PRESENT negative max-sim stands (penalty goes negative —
    * exactly the old left-join + coalesce semantics).
    *
    * Input contract (r17, from the r16 ADVICE): `qid`/`cid`/`a`/`b`
    * must be NON-NULL and long-castable — the cogroup keys and tuple
    * encoder are primitive longs, so a null or non-numeric id fails at
    * runtime (encoder NPE) instead of flowing through as the old
    * pure-DataFrame joins would have. Every producer in this library
    * (ANN shortlists, hybrid rankings, curation lists) emits dense
    * non-null long ids; external callers with stringy or nullable ids
    * must key-map them first. */
  def mmrSelect(candidates: DataFrame, pairSims: DataFrame, k: Int,
                wRel: Int = 7, wDiv: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = candidates.sparkSession
    import spark.implicits._
    val cand = candidates
      .select(col("qid").cast("long"), col("cid").cast("long"),
        col("rel_micro").cast("long"))
      .as[(Long, Long, Long)]
    val ps = pairSims
      .select(col("qid").cast("long"), col("a").cast("long"),
        col("b").cast("long"), col("sim_micro").cast("long"))
      .as[(Long, Long, Long, Long)]
    cand.groupByKey(_._1).cogroup(ps.groupByKey(_._1)) { (qid, cs, ss) =>
      import scala.collection.mutable
      // per-cid best relevance (duplicate rows contract to max)
      val rel = mutable.HashMap.empty[Long, Long]
      cs.foreach { case (_, cid, r) =>
        if (rel.get(cid).forall(r > _)) rel(cid) = r
      }
      // sims indexed by the SELECTED side b: b -> (a, max sim) — the
      // directional (a = candidate, b = selected) lookup the old
      // maxSim join performed
      val simsByB = mutable.HashMap.empty[Long, mutable.HashMap[Long, Long]]
      ss.foreach { case (_, a, b, s) =>
        val m = simsByB.getOrElseUpdate(b, mutable.HashMap.empty[Long, Long])
        if (m.get(a).forall(s > _)) m(a) = s
      }
      val chosen = mutable.HashSet.empty[Long]
      // cid -> max sim to the selected set; ABSENT means "no sim row
      // to any selected" and scores as 0, while a present negative
      // value stands (the left-join + coalesce(mx, 0) convention)
      val mx = mutable.HashMap.empty[Long, Long]
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var t = 1
      while (t <= k && chosen.size < rel.size) {
        var bestCid = 0L
        var bestScore = 0L
        var found = false
        rel.foreach { case (cid, r) =>
          if (!chosen.contains(cid)) {
            val sc = wRel.toLong * r -
              wDiv.toLong * mx.getOrElse(cid, 0L)
            if (!found || sc > bestScore ||
                (sc == bestScore && cid < bestCid)) {
              found = true; bestCid = cid; bestScore = sc
            }
          }
        }
        out += ((qid, bestCid, t.toLong, bestScore))
        chosen += bestCid
        simsByB.get(bestCid).foreach(_.foreach { case (a, s) =>
          if (mx.get(a).forall(s > _)) mx(a) = s
        })
        t += 1
      }
      out.iterator
    }.toDF("qid", "cid", "pick", "score")
      .orderBy(col("qid"), col("pick"))
  }

  /** [[mmrSelect]] with the pair similarities DERIVED from an
    * embedding table: candidates are any (qid, cid, rel_micro) lists —
    * an ANN stage, a fused hybrid ranking, a curation shortlist — and
    * the within-list pair similarities come from the candidates'
    * embeddings (equi-join on qid: ≤ r² pairs per query, never
    * corpus²; 6-dp-rounded cosine pinned to micro BIGINTs, the library
    * convention). A candidate with no embedding row keeps competing
    * with similarity 0 to everything (it can't be known-redundant). */
  def mmrDiversify(candidates: DataFrame, emb: DataFrame, k: Int,
                   wRel: Int = 7, wDiv: Int = 3,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    import graft.ext.{Similarity => Sim}
    // pinned: the pair-sim derivation and mmrSelect both consume it —
    // without this the candidate producer replays per consumer
    val cand = candidates
      .select(col("qid"), col("cid"), col("rel_micro"))
      .localCheckpoint(true)
    val cv = cand.select(col("qid"), col("cid"))
      .join(emb.select(col(idCol).as("cid"),
        Sim.asDouble(col(vecCol)).as("v")), Seq("cid"))
      .localCheckpoint(true)
    val x = cv.select(col("qid"), col("cid").as("a"), col("v").as("va"))
    val y = cv.select(col("qid"), col("cid").as("b"), col("v").as("vb"))
    val pairSims = x.join(y, Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        floor(round(Sim.cosine(col("va"), col("vb")), 6) * 1e6 + lit(0.5))
          .cast("long").as("sim_micro"))
    mmrSelect(cand, pairSims, k, wRel, wDiv)
  }

  /** [[mmrDiversify]] composed over an embedding corpus: exact top-`r`
    * cosine candidates per query ([[graft.ext.Similarity.bruteTopK]] —
    * swap in any blocked ANN stage at corpus scale), then the greedy
    * integer-micro selection with pair sims from the same corpus. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, r: Int,
              wRel: Int = 7, wDiv: Int = 3,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"candidate depth r=$r must be >= k=$k")
    import graft.ext.{Similarity => Sim}
    val cand = Sim.bruteTopK(corpus, queries, r, idCol, vecCol)
      .select(col("qid"), col("cid"),
        floor(col("cos_sim") * 1e6 + lit(0.5)).cast("long")
          .as("rel_micro"))
    mmrDiversify(cand, corpus, k, wRel, wDiv, idCol, vecCol)
  }

  /** Hard-negative mining from a PINNED first-stage shortlist — the
    * training-pair generator of every embedding/reranker fine-tune
    * (DPR/Contriever-style): for each query, the highest-ranked
    * shortlist candidates that are NOT known positives, re-numbered
    * densely 1..k after the positive removal (a mined set must always
    * deliver k negatives if the shortlist depth allows — gaps where
    * positives sat would starve the training batch). Negatives by
    * construction rank HIGH in the retriever while being wrong — the
    * examples a contrastive loss learns most from.
    *
    * Inputs: `shortlist` (qid, cid, rank[, …score cols ride along]),
    * `positives` (qid, cid). Determinism: the shortlist's own rank
    * total-orders everything; removal and renumbering are
    * order-stable, no new ties to break.
    *
    * Scale: one anti-join of two skinny frames (the |Q|·depth
    * shortlist vs the per-query positive lists) and a qid-partitioned
    * renumber window — the corpus work lives in the first-stage
    * retriever. */
  def hardNegativesFromShortlist(shortlist: DataFrame,
                                 positives: DataFrame,
                                 k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col("qid")).orderBy(col("_r0"))
    shortlist.withColumnRenamed("rank", "_r0")
      .join(positives.select(col("qid"), col("cid")),
        Seq("qid", "cid"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("_r0")
      .orderBy(col("qid"), col("rank"))
  }

  /** [[hardNegativesFromShortlist]] over an exact top-`depth` cosine
    * first stage — the offline-mining shape (exact at sample scale;
    * swap any blocked ANN stage in at corpus scale, exactly the
    * [[mmrTopK]] substitution note). Emits (qid, cid, cos_sim, rank),
    * rank dense 1..k after positive removal. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    positives: DataFrame, k: Int, depth: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(depth >= k, s"depth=$depth must be >= k=$k")
    import graft.ext.{Similarity => Sim}
    hardNegativesFromShortlist(
      Sim.bruteTopK(corpus, queries, depth, idCol, vecCol),
      positives, k)
  }

  /** Late-interaction (MaxSim) retrieval, ColBERT-style (Khattab &
    * Zaharia SIGIR'20): each vector is treated as `m` sub-vectors of
    * `subDim` dims (contiguous slices — for true multi-vector data
    * the slices would be per-token embeddings; the slicing is the
    * single-column encoding of that shape), and
    * score(q, d) = Σᵢ maxⱼ cos(qᵢ, dⱼ) — every query part finds its
    * best-matching document part independently, which is what lets
    * late interaction beat single-vector cosine on multi-topic
    * documents. Exact top-k per query by the MaxSim score.
    *
    * Determinism: each part-pair cosine is 6-dp-rounded then pinned
    * to integer micros BEFORE the max/sum (integer max and sum are
    * reduce-order-free); ties break on cid.
    *
    * Scale shape: both sides explode ×m (skinny (id, part, slice)
    * rows); the per-(pair, query-part) max and the per-pair sum are
    * partial-aggregating hash contractions keyed on corpus-cardinality
    * ids — the scan is the by-definition broadcast-query linear scan
    * ×m², and m is small (4 here; 32-128 for real ColBERT). At corpus
    * scale the first stage swaps for any blocked ANN tier exactly as
    * [[mmrTopK]]'s substitution note — MaxSim then reranks the
    * shortlist. Emits (qid, cid, maxsim_micro, rank). */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 m: Int = 4, subDim: Int = 16,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1, "m and subDim must be >= 1")
    import graft.ext.{Similarity => Sim}
    def parts(df: DataFrame, id: String): DataFrame = df.select(
        col(idCol).as(id),
        posexplode(array((0 until m).map(i =>
          slice(Sim.asDouble(col(vecCol)), i * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", s"${id}_part")
      .withColumnRenamed("col", s"${id}_v")
      .withColumn(s"${id}_n", Sim.norm(col(s"${id}_v")))
    val c = parts(corpus, "cid")
    val q = parts(queries, "qid")
    val sim = Sim.cosine(col("qid_v"), col("cid_v"), col("qid_n"), col("cid_n"))
    val simMicro = floor(round(sim, 6) * 1e6 + lit(0.5)).cast("long")
    Sim.topKPerQuery(c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qid_part"),
        simMicro.as("sim_micro"))
      .groupBy(col("qid"), col("cid"), col("qid_part"))
      .agg(max(col("sim_micro")).as("part_max"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("part_max")).as("maxsim_micro")),
      k, col("maxsim_micro").desc)
  }

  /** Spearman rank correlation between two top-N rankings — the
    * ranker-agreement gate (BM25 vs embedding cosine, old index vs
    * new, cheap tier vs expensive): high ρ ⇒ the cheap ranker can
    * stand in; low ρ ⇒ fusion (RRF) has something to add. Top-N lists
    * rank different survivor sets, so ranks are RE-DENSIFIED within
    * the id intersection before differencing (the standard top-k
    * treatment — raw rank gaps against missing ids would dominate d²
    * with membership noise, not order disagreement).
    *
    * ρ = 1 − 6Σd²/(n(n²−1)), emitted in micros with explicit
    * toward-zero signed division (Spark `div` truncates, DuckDB `//`
    * floors — they agree only on non-negatives, so the negative
    * branch is handled by negating a positive division: replayable in
    * both engines bit-for-bit). Emits one row (n_common, sum_d2,
    * rho_micro).
    *
    * Scale: inputs are top-N ranker outputs (bounded lists); two
    * semi-joins + two windows over ≤N rows. */
  def spearmanStats(rankA: DataFrame, rankB: DataFrame,
                    idCol: String = "id",
                    rankCol: String = "rank"): DataFrame = {
    val a = rankA.select(col(idCol).as("id"), col(rankCol).as("ra"))
    val b = rankB.select(col(idCol).as("id"), col(rankCol).as("rb"))
    // top-N lists by contract, so the intersection is ≤N rows; the
    // limit is a semantic no-op that makes the bound PROVABLE to the
    // plan gate (the unpartitioned dense-rank windows below must never
    // be able to see corpus cardinality). sort(id) before the limit:
    // if a caller VIOLATES the top-N contract the truncation keeps
    // the smallest ids instead of an arbitrary partition-order subset
    // — rho_micro stays deterministic (wrong loudly and reproducibly,
    // never silently different per run). TakeOrderedAndProject over
    // the ≤N intersection, not a full sort at scale.
    val common = a.join(b, Seq("id")).sort(col("id")).limit(100000)
    val da = Window.orderBy(col("ra"), col("id"))
    val db = Window.orderBy(col("rb"), col("id"))
    val dense = common
      .withColumn("dra", row_number().over(da).cast("long"))
      .withColumn("drb", row_number().over(db).cast("long"))
    val agg = dense.agg(
      count(lit(1)).as("n_common"),
      sum((col("dra") - col("drb")) * (col("dra") - col("drb")))
        .as("sum_d2"))
    agg.select(col("n_common"), col("sum_d2"),
      when(col("n_common") < 2L, lit(1000000L)).otherwise(
        expr("""CASE WHEN n_common * (n_common * n_common - 1) - 6 * sum_d2 >= 0
               |THEN (n_common * (n_common * n_common - 1) - 6 * sum_d2) * 1000000
               |     div (n_common * (n_common * n_common - 1))
               |ELSE -((-(n_common * (n_common * n_common - 1) - 6 * sum_d2)) * 1000000
               |     div (n_common * (n_common * n_common - 1)))
               |END""".stripMargin))
        .as("rho_micro"))
  }

  /** Greedy k-center coreset selection (farthest-first traversal,
    * Gonzalez 1985 — the 2-approximation to the k-center cover): pick
    * the candidate LEAST similar to everything already picked, k
    * times. The diverse-exemplar sampler of a curation pipeline
    * (eval-set seeding, codebook-training subsets, labeling budgets):
    * top-k-by-anything returns near-duplicates, farthest-first
    * guarantees spread. This IS [[mmrSelect]] with the relevance term
    * OFF (wRel = 0, wDiv = 1) — pick t maximizes
    * −max_{s∈selected} sim(c, s), first pick ties to the smallest id
    * (a fixed deterministic start, the library's replayable-greedy
    * convention).
    *
    * Scale: the greedy loop is k bounded DataFrame steps over the
    * CANDIDATE list, never the corpus — feed it a bounded sample
    * (uniform hash pre-sample to R, the standard two-stage coreset:
    * R² pair sims per query, R ~ 10³-10⁴). Emits (pick, id,
    * max_sim_to_prior_micro) in pick order; the last pick's
    * similarity is the selection's covering-radius proxy (rising
    * tail ⇒ k is saturating the candidate diversity). */
  def kCenterSelect(candidates: DataFrame, emb: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    mmrDiversify(
      candidates.select(lit(0L).as("qid"), col(idCol).as("cid"),
        lit(0L).as("rel_micro")),
      emb, k, wRel = 0, wDiv = 1, idCol, vecCol)
      .select(col("pick"), col("cid").as(idCol),
        (-col("score")).as("max_sim_to_prior_micro"))
      .orderBy(col("pick"))
}
