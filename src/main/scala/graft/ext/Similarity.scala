package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — extension
  * tier (SURVEY.md §7 step 5).
  *
  *  - `cosine`:       higher-order zip_with/aggregate dot product — one
  *                    codegen'd expression, no UDF. Floats are cast to
  *                    double *before* the fold so the arithmetic (and its
  *                    left-to-right order) matches the DuckDB oracle's
  *                    double list_cosine_similarity bit-for-bit.
  *  - `bruteTopK`:    exact top-k per query via broadcast of the query
  *                    set — the correctness baseline. Linear scan of the
  *                    corpus per query; fine when queries are few.
  *  - SRP-LSH ANN:    the 100 TB path — deterministic signed-random-
  *                    projection signatures (hyperplanes derived from
  *                    xxhash64, so no RNG state ships anywhere), bucket
  *                    join on the signature, exact re-rank inside buckets.
  */
object Similarity {

  import graft.functions.VectorFunctions.dot_product

  /** array<float> → array<double>, for stable cross-engine arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd dot product (tight primitive loop — the higher-order
    * zip_with/aggregate formulation runs interpreted, ~50× slower on
    * 64-dim embeddings). Inputs must already be array<double>. */
  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Micro-pinned integer vector: floor(x·1e6 + 0.5) per element as
    * BIGINT — the de-floating convention (the pqLut discipline applied
    * to rank keys): every discrete decision downstream of this pin is
    * a function of exact integers, never of a native float kernel
    * whose accumulation order differs across engines/versions. */
  def microVec(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long"))

  /** Codegen'd integer dot over micro-pinned vectors (exact BIGINT). */
  def dotLong(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_long(a, b)

  /** decimal(38,0) → BIGINT emit that FAILS LOUDLY on overflow. The
    * bare `.cast("long")` under non-ANSI Spark silently returns NULL
    * past 2^63−1 while the DuckDB oracle's CAST(... AS BIGINT) errors
    * — past the documented ~5e17 headroom the two sides would diverge
    * silently. Decimal cohort sums are overflow-PROOF internally; the
    * emit is the one narrowing step, so the narrowing is guarded. */
  def decToLongStrict(c: Column, what: String): Column =
    when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
      raise_error(concat(lit(s"$what overflows BIGINT: "),
        c.cast("string"))).cast("long"))
      .otherwise(c.cast("long"))

  /** Cosine rank key from EXACT integers: `dot / (sqrt(na)·sqrt(nb))`
    * where dot/na/nb are integer micro dots. Each step (BIGINT→DOUBLE,
    * sqrt, ×, ÷) is a correctly-rounded IEEE-754 op, so any engine
    * replaying this exact expression shape produces the bit-identical
    * double — no 6-dp rounding needed, and no dependence on a native
    * cosine kernel's internal summation order (the q233 r13 driver-red
    * class). Two distinct rationals may still collide to one double;
    * the caller's (key DESC, id) tie-break then decides identically in
    * both engines, which is the property the oracle needs. */
  def pinnedCosine(idot: Column, na: Column, nb: Column): Column =
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(idot.cast("double")
        / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))

  /** Cosine similarity of two double arrays; 0.0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** All pairs with cosine ≥ threshold. Exact self-join (O(n²) pairs):
    * the yardstick for the LSH variant — at corpus scale, bucket first.
    * Norms are computed once per vector on the join inputs (the join is
    * a projection barrier), so per-pair work is exactly one dot product. */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(sim, 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact top-k nearest (cosine) corpus vectors per query vector.
    * The query set is broadcast, so the corpus is scanned exactly once
    * regardless of query count; ranking is windowed per query. Ties are
    * broken on (rounded sim, id) so results are total-ordered and
    * oracle-stable. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(sim, 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** [[bruteTopK]] with EXACT integer rank keys ([[microVec]] +
    * [[pinnedCosine]]) — the de-floated yardstick for gates whose
    * emitted value is a FUNCTION OF SET MEMBERSHIP (recall counts):
    * there, a single ulp of cross-engine cosine difference at a rank-k
    * boundary flips the output integer (the q233 r13 driver red — the
    * local DuckDB's `list_cosine_similarity` agreed with Spark at 6 dp,
    * the driver's version did not). Rank order here is decided only by
    * correctly-rounded IEEE ops over exact integer micros, replayable
    * bit-for-bit in any engine. Emits (qid, cid, rank) — the double
    * key is internal, never an output column. */
  def pinnedBruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("cid"), microVec(col(vecCol)).as("cv"))
      .withColumn("cna", dotLong(col("cv"), col("cv")))
    val q = queries.select(col(idCol).as("qid"), microVec(col(vecCol)).as("qv"))
      .withColumn("qna", dotLong(col("qv"), col("qv")))
    val sim = pinnedCosine(dotLong(col("qv"), col("cv")),
      col("qna"), col("cna"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_psim").desc, col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), sim.as("_psim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Pinned-integer IVF cell assignment — the de-floated blocking
    * primitive under [[bitextMutualStats]] and the source×cell
    * profile: the `nCentroids` smallest-id vectors seed the cells (the
    * q185 seed convention), assignment is argmax of [[pinnedCosine]]
    * over exact integer micros with (sim DESC, c_id) tie-breaks, so
    * the labelling replays bit-for-bit in any engine. Emits (id, c_id).
    *
    * Scale: one broadcast crossJoin against the LIMIT-nCentroids seed
    * frame (bounded model — the q34 block shape), one id-keyed
    * window. */
  def pinnedCellAssign(emb: DataFrame, nCentroids: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = emb.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("c_id"), microVec(col(vecCol)).as("cv"))
      .withColumn("cna", dotLong(col("cv"), col("cv")))
    val v = emb.select(col(idCol).as("id"), microVec(col(vecCol)).as("pv"))
      .withColumn("na", dotLong(col("pv"), col("pv")))
    val aw = Window.partitionBy(col("id"))
      .orderBy(col("_psim").desc, col("c_id"))
    v.crossJoin(broadcast(seeds))
      .withColumn("_psim",
        pinnedCosine(dotLong(col("pv"), col("cv")), col("na"), col("cna")))
      .withColumn("_rk", row_number().over(aw))
      .filter(col("_rk") === 1)
      .select(col("id"), col("c_id"))
  }

  /** Cross-lingual bitext mining yield (LASER/CCMatrix-style
    * mine-into-target, reduced to its deterministic skeleton): every
    * non-`targetLang` document is paired with same-IVF-cell
    * `targetLang` documents, ranked by pinned-integer cosine, and a
    * pair is MINED when it is mutual-top-1 (x's best target is y AND
    * y's best source is x — the forward∩backward filter that kills
    * hub translations). Emits the per-source-language yield table:
    * (lang, n_queries, n_mutual, yield_micro), where `n_queries`
    * counts source docs with at least one same-cell target candidate
    * — a low yield for one language flags embedding-space
    * misalignment for that pair before any trainer consumes the
    * mined pairs.
    *
    * Blocking is the 16-smallest-id-seed IVF assignment computed on
    * PINNED integer micros (not the float-kernel `ivfAssign`) so the
    * whole trajectory — blocking, ranking, mutuality — replays
    * bit-for-bit in any engine (the q259/q281 convention).
    *
    * Scale: the seed frame is broadcast (bounded crossJoin — the q34
    * block shape); candidates form per-cell equi-join groups, never
    * corpus²; both mutual windows are keyed per doc. */
  def bitextMutualStats(emb: DataFrame, langs: DataFrame,
                        targetLang: String = "en",
                        nCentroids: Int = 16,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col(idCol).as("id"), microVec(col(vecCol)).as("pv"))
      .withColumn("na", dotLong(col("pv"), col("pv")))
    val cells = pinnedCellAssign(emb, nCentroids, idCol, vecCol)
    val lv = v
      .join(langs.select(col(idCol).as("id"), col(langCol).as("lang")), "id")
      .join(cells, "id")
    val src = lv.filter(col("lang") =!= targetLang)
      .select(col("id").as("a_id"), col("lang").as("a_lang"),
        col("pv").as("av"), col("na").as("ana"), col("c_id"))
    val dst = lv.filter(col("lang") === targetLang)
      .select(col("id").as("b_id"), col("pv").as("bv"),
        col("na").as("bna"), col("c_id"))
    val scored = src.join(dst, Seq("c_id"))
      .withColumn("_psim",
        pinnedCosine(dotLong(col("av"), col("bv")), col("ana"), col("bna")))
    val fw = Window.partitionBy(col("a_id"))
      .orderBy(col("_psim").desc, col("b_id"))
    val bw = Window.partitionBy(col("b_id"))
      .orderBy(col("_psim").desc, col("a_id"))
    scored
      .withColumn("fw_rk", row_number().over(fw))
      .withColumn("bw_rk", row_number().over(bw))
      .filter(col("fw_rk") === 1)
      .groupBy(col("a_lang").as("lang"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("bw_rk") === 1).cast("long")).as("n_mutual"))
      .select(col("lang"), col("n_queries"), col("n_mutual"),
        expr("n_mutual * 1000000 div greatest(n_queries, 1)")
          .as("yield_micro"))
      .orderBy(col("lang"))
  }

  /** Matryoshka-style prefix-dimension first stage (Kusupati et al.
    * NeurIPS'22 — MRL-trained embeddings order information by
    * dimension, so the first `prefixDims` dims are a usable coarse
    * representation): exact top-k by cosine over the PREFIX ONLY.
    * Same conventions as [[bruteTopK]] (broadcast queries, 6-dp
    * rounding, ties on cid); emits (qid, cid, cos_sim, rank) where
    * cos_sim is the PREFIX cosine.
    *
    * Scale: the scan reads prefixDims/dims of the float payload (with
    * column pruning to a stored prefix column, proportionally less
    * I/O) and each pair costs a prefixDims-term dot — the cheap first
    * stage of a two-stage stack; compose with [[refineTopK]]
    * ([[prefixRefineTopK]]) to buy the loss back on |Q|·R rows. */
  def prefixTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 prefixDims: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(prefixDims >= 1, "prefixDims must be >= 1")
    val c = corpus.select(col(idCol).as("cid"),
        slice(asDouble(col(vecCol)), 1, prefixDims).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"),
        slice(asDouble(col(vecCol)), 1, prefixDims).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(sim, 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Prefix first stage at depth `r`, exact full-dimension refine to
    * `k` — the Matryoshka retrieve-then-refine compose. */
  def prefixRefineTopK(corpus: DataFrame, queries: DataFrame,
                       k: Int, r: Int, prefixDims: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"shortlist depth r=$r must be >= k=$k")
    refineTopK(corpus, queries,
      prefixTopK(corpus, queries, r, prefixDims, idCol, vecCol),
      k, idCol, vecCol)
  }

  /** The refine uplift gate on the prefix first stage — q210's row
    * shape; refined ≥ unrefined stays a theorem under the shared
    * conventions. */
  def prefixRefineUpliftStats(corpus: DataFrame, queries: DataFrame,
                              k: Int, r: Int, prefixDims: Int,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"shortlist depth r=$r must be >= k=$k")
    val shortlist = prefixTopK(corpus, queries, r, prefixDims,
      idCol, vecCol).localCheckpoint(true)
    refineUpliftFromShortlist(corpus, queries, shortlist, k,
      idCol, vecCol)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x| / 127, codes = floor(x/scale + 0.5) clamped to
    * [-127, 127], stored as array<tinyint> — 4× smaller than float32,
    * which at corpus scale is the difference between an in-memory and a
    * spilled ANN index. Zero vectors quantize to scale 0 + zero codes.
    * floor(x+0.5) is used instead of round(): IEEE-double floor is
    * bit-identical across engines, while round-half tie-breaking is
    * not, so the DuckDB oracle reproduces the codes exactly.
    * 64-element arrays keep the interpreted higher-order transforms off
    * the hot-loop cost radar; reference each derived column once (HOF
    * results re-evaluate under projection collapse). */
  def quantizeInt8(emb: DataFrame,
                   vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val mx = array_max(transform(v, x => abs(x)))
    val scale = (mx / 127.0).as("q_scale")
    val codes = when(mx === 0.0,
        transform(v, _ => lit(0).cast("tinyint")))
      .otherwise(transform(v, x =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(x / (mx / 127.0) + 0.5))).cast("tinyint")))
    emb.withColumn("q_scale", scale).withColumn("q_codes", codes)
  }

  /** Approximate reconstruction of a quantized embedding. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** [[quantizeInt8]] at 4-bit resolution: per-vector scale =
    * max|x| / 7, codes clamped to [-7, 7] — 15 levels, half the
    * stored bits of SQ8 when nibble-packed (packing is a storage
    * detail; the quantization point is what changes recall, and the
    * codes column is what the oracle replays). Same floor-based
    * cross-engine convention, same zero-vector edge. */
  def quantizeInt4(emb: DataFrame,
                   vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val mx = array_max(transform(v, x => abs(x)))
    val scale = (mx / 7.0).as("q_scale")
    val codes = when(mx === 0.0,
        transform(v, _ => lit(0).cast("tinyint")))
      .otherwise(transform(v, x =>
        greatest(lit(-7.0), least(lit(7.0),
          floor(x / (mx / 7.0) + 0.5))).cast("tinyint")))
    emb.withColumn("q_scale", scale).withColumn("q_codes", codes)
  }

  /** Quantization error audit, explode-formulated: per-dimension scalar
    * expressions after a posexplode + per-vector window max — all
    * codegen'd, one id-keyed exchange — instead of nested interpreted
    * array HOFs (measured ~4× faster even at 2k vectors; at corpus
    * scale the HOF formulation is not viable). Returns one row:
    * (n_vecs, avg_max_err, worst_err) over per-vector max abs
    * reconstruction error. */
  def quantizationErrorStats(emb: DataFrame,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ext.{TextAnalysis => T}
    val dims = emb.select(col(idCol).as("id"),
      posexplode(asDouble(col(vecCol))).as(Seq("d", "x")))
    val scale = max(abs(col("x"))).over(Window.partitionBy(col("id"))) / 127.0
    val code = greatest(lit(-127.0), least(lit(127.0),
      floor(col("x") / scale + 0.5)))
    val err = when(scale === 0.0, 0.0)
      .otherwise(abs(col("x") - code * scale))
    dims.withColumn("err", err)
      .groupBy(col("id")).agg(max(col("err")).as("max_err"))
      .agg(count(lit(1)).as("n_vecs"),
        T.trunc4(avg(col("max_err"))).as("avg_max_err"),
        T.trunc4(max(col("max_err"))).as("worst_err"))
  }

  /** (id, table, signature) rows for `tables` independent SRP hash
    * tables of `bits` bits each. Hyperplane weight for plane p = t*bits+i
    * at dimension d is ±1 derived from xxhash64(p*4096 + d) —
    * deterministic, no RNG state, no plane matrices to broadcast.
    * Computed as one hash-aggregate over posexploded dimensions with
    * tables×bits conditional sums (codegen'd, map-side combine), then
    * static shift/or packing — the higher-order per-row formulation runs
    * interpreted. Vectors with equal signatures collide with probability
    * increasing in cosine similarity. */
  def srpSignatures(emb: DataFrame, bits: Int, tables: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    scheme: Dedup.HashScheme = Dedup.FastHash,
                    nDims: Int = 64): DataFrame = {
    require(bits <= 63, "signature must fit a long")
    require(nDims <= 4096, "plane stride supports up to 4096 dims")
    val dims = emb.select(col(idCol).as("id"),
      posexplode(asDouble(col(vecCol))).as(Seq("d", "x")))
    val sums = for (t <- 0 until tables; i <- 0 until bits) yield {
      val plane = (t * bits + i).toLong * 4096L
      // hyperplane sign from the hash of the "plane+dim" index. Under
      // OracleHash the ±1 weights are computed driver-side with the
      // same md5 the oracle SQL uses and shipped as a literal array
      // (a per-row md5 expression measured 2.5× slower on q22); the
      // projection is rounded to 6 dp before the sign test so the
      // signature is reproducible across engines' float-sum orders.
      val w: Column = scheme match {
        case Dedup.OracleHash =>
          val ws = (0 until nDims).map { d =>
            if (Dedup.md5Long((plane + d).toString) % 2 == 1) 1.0 else -1.0
          }
          element_at(typedLit(ws), col("d") + 1)
        case _ =>
          (pmod(scheme.one((lit(plane) + col("d")).cast("string")),
            lit(2)) * 2 - 1).cast("double")
      }
      round(sum(col("x") * w), 6).as(s"s_${t}_$i")
    }
    val packed = (0 until tables).map { t =>
      val sig = (0 until bits).map { i =>
        when(col(s"s_${t}_$i") >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
      struct(lit(t).as("tbl"), sig.as("sig"))
    }
    dims.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), explode(array(packed: _*)).as("ts"))
      .select(col("id"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))
  }

  /** Johnson-Lindenstrauss dense random projection: embed `nDims`-dim
    * vectors into `k` dims with a deterministic ±1 matrix (sign of
    * md5("rp:j:d") — no RNG state, replicable by any engine with md5,
    * so the DuckDB oracle checks the projected values themselves).
    * Achlioptas (2003, public) shows ±1 entries give the JL guarantee;
    * scaling by 1/√k preserves expected norms, surfaced here as
    * `norm_ratio` = ‖proj‖/√k ÷ ‖x‖ (≈1 when distances survive).
    *
    * Same execution shape as `srpSignatures`: posexplode dimensions →
    * ONE hash-aggregate with k codegen'd conditional sums (map-side
    * combine; the per-row higher-order fold runs interpreted). The
    * weight matrix ships as k literal arrays, not a join. Projections
    * round to 6 dp at the single quantization point; the ratio is then
    * arithmetic over identical doubles. */
  def randomProject(emb: DataFrame, k: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    nDims: Int = 64): DataFrame = {
    val dims = emb.select(col(idCol).as("id"),
      posexplode(asDouble(col(vecCol))).as(Seq("d", "x")))
    val sums = (0 until k).map { j =>
      val ws = (0 until nDims).map { d =>
        if (Dedup.md5Long(s"rp:$j:$d") % 2 == 1) 1.0 else -1.0
      }
      round(sum(col("x") * element_at(typedLit(ws), col("d") + 1)), 6)
        .as(s"p$j")
    } :+ round(sum(col("x") * col("x")), 6).as("n2")
    val projNorm2 = (0 until k).map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    dims.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id").as(idCol) +:
        (0 until k).map(j => col(s"p$j")) :+
        when(col("n2") === 0d, 0d)
          .otherwise(round(sqrt(projNorm2 / k) / sqrt(col("n2")), 6))
          .as("norm_ratio"): _*)
  }

  /** IVF list sizing: `max(floor, ceil(4·√n))` centroid buckets for an
    * n-vector corpus — the inverted-file heuristic (FAISS guidance is
    * nlist in [4√n, 16√n]). With c·√n buckets the expected bucket size
    * is √n/c, so a within-bucket self-join costs Σ bucket² ≈ n^1.5/c
    * instead of the n²/nlist a FIXED list count degrades to as the
    * corpus grows (a 30× ScaleUp probe measured the fixed-16 ANN family
    * at 110-155× wall for 30× data; √n-family sizing restores the n^1.5
    * envelope). Assignment is n × nlist dot products — also n^1.5, but
    * through [[graft.functions.IvfTopCentroids]]'s primitive loop its
    * per-candidate cost is ~60× below the pair join's row cost, so the
    * measured optimum sits at the join-light end (30× probe, 60k
    * vectors: whole-op 11.7 s at 1·√n vs 8.1 s at 4·√n). At extreme
    * scale train centroids on a sample ([[kmeansCentroids]]) and keep
    * this count formula.
    *
    * Deterministic in the corpus ROW COUNT only, so a cross-engine
    * oracle reproduces it as
    * `least(100000, greatest(floor, ceil(4·sqrt(count(*)))))`
    * — both engines take IEEE-double sqrt of an exact integer, the ×4
    * is exact (power of two), and ceil of a perfect-square sqrt is
    * exact in IEEE 754, so the counts can never disagree.
    *
    * Capped at [[MaxCentroids]] = 10⁵ — the ivfAssign driver-model
    * ceiling (≈500 MB of centroid floats at dim=512). √n sizing hits
    * the cap at n ≈ 6·10⁸ with mult=4; beyond it cells simply grow, or
    * switch to two-level IVF (see [[ivfAssign]]'s scale note). */
  def autoCentroids(n: Long, floor: Int = 16, mult: Int = 4): Int =
    math.min(MaxCentroids,
      math.max(floor, math.ceil(mult * math.sqrt(n.toDouble)).toInt))

  /** Hard cap on any driver-collected centroid model — see
    * [[autoCentroids]] and [[ivfAssign]]. */
  val MaxCentroids: Int = 100000

  /** IVF (inverted-file) index: `nCentroids` seed centroids picked
    * deterministically (smallest ids — at corpus scale swap in a k-means
    * sample; the index structure is identical), every vector assigned to
    * its top-`nAssign` centroids by cosine. Returns (id, v, nrm,
    * centroid_id). The assignment similarity is rounded to 6 dp before
    * the argmax (same convention as `bruteTopK`) so the argmax — and
    * therefore every bucket — is reproducible bit-for-bit by another
    * engine. `nAssign` > 1 indexes every vector into its top-n centroid
    * buckets (multi-assignment — the index-side analogue of query-side
    * nProbe): near-dup pairs straddling a single-bucket boundary are
    * then caught whenever any of their buckets overlap, at n× index
    * size.
    *
    * Scale: the centroid set is collected to the driver and shipped
    * into the scoring expression as a plan constant
    * ([[graft.functions.IvfTopCentroids]] — the MLlib-KMeans
    * broadcast-model shape). That collect is BOUNDED by construction:
    * √n centroids × dim ≈ 16 MB at 10⁹ vectors — a model, not data
    * (the one sanctioned driver-collect class). DRIVER-MODEL CEILING:
    * the allowance is 10⁵ centroids ≈ 500 MB of driver heap at
    * dim=512 float64 (√n sizing reaches it at n = 10¹⁰ vectors) —
    * past that, CAP nCentroids at 10⁵ and accept larger cells, or go
    * two-level IVF (√(√n)-way coarse quantizer assigns to a shard,
    * each shard trains its own √-sized fine codebook — both levels
    * stay inside the allowance at any realistic n). Callers that size
    * adaptively (q34's √n) must clamp with `math.min(1e5.toInt, …)`
    * once corpora approach 10¹⁰. Each vector is then
    * scored in ONE projection with no per-(vector, centroid) row: the
    * previous broadcast-join + map-side-argmax formulation was
    * semantically identical but materialized n × nCentroids joined
    * rows, each copying both embedding arrays — at √n centroids that
    * n^1.5 row traffic measured 34 s of a 46 s operator (30× probe);
    * the expression does the same GFLOP in ~0.4 s. Triggers one small
    * Spark job at PLAN TIME (the centroid collect) — same eagerness
    * class as the documented checkpoint sites. */
  def ivfAssign(emb: DataFrame, nCentroids: Int, nAssign: Int = 1,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    // the centroid model: norms computed by the SAME Spark expressions
    // the old join used, so collected values are bit-identical to what
    // the joined rows carried
    val centroids = e.orderBy(col("id")).limit(nCentroids).collect()
    val ids = centroids.map(_.getLong(0))
    val cvs = centroids.map(_.getSeq[Double](1).toArray)
    val cns = centroids.map(_.getDouble(2))
    e.withColumn("centroid_id",
        explode(graft.functions.VectorFunctions.ivf_top_centroids(
          col("v"), col("nrm"), ids, cvs, cns, nAssign)))
      .select(col("id"), col("v"), col("nrm"), col("centroid_id"))
  }

  /** Per-query probe selection shared by [[ivfTopK]] and
    * [[ivfPqSearch]] — rank the nCentroids smallest-id seed centroids
    * per query by 6-dp-rounded cosine (the ivfAssign reproducibility
    * convention: probe choice must replay bit-for-bit in the
    * cross-engine oracle; ties on c_id) and keep nProbe. ONE shared
    * body so a rounding/tie change can never desynchronize the exact
    * and compressed scans. Returns (qid, qv, qn, centroid_id). */
  private def ivfProbes(corpus: DataFrame, queries: DataFrame,
                        nCentroids: Int, nProbe: Int,
                        idCol: String, vecCol: String): DataFrame =
    ivfProbesFrom(seedCentroids(corpus, nCentroids, idCol, vecCol),
      queries, nProbe, idCol, vecCol)

  /** The `nCentroids` smallest-id vectors as coarse seed centroids
    * (c_id, cv, cn). */
  private def seedCentroids(corpus: DataFrame, nCentroids: Int,
                            idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("c_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .orderBy(col("c_id")).limit(nCentroids)

  /** [[ivfProbes]] over a PREPARED centroid frame (c_id, cv, cn) —
    * the form a self-contained index artifact uses: the coarse seeds
    * ride in the index instead of being re-derived from a corpus
    * (which, for a grown index, would elect DIFFERENT seeds and break
    * the frozen-quantizer contract). Same 6-dp/tie conventions. */
  private def ivfProbesFrom(centroids: DataFrame, queries: DataFrame,
                            nProbe: Int,
                            idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cdenom = col("qn") * col("cn")
    val csim = when(cdenom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / cdenom)
    val cw = Window.partitionBy(col("qid"))
      .orderBy(col("_csim").desc, col("c_id"))
    q.join(broadcast(centroids), lit(true))
      .withColumn("_csim", round(csim, 6))
      .withColumn("_crk", row_number().over(cw))
      .filter(col("_crk") <= nProbe)
      .select(col("qid"), col("qv"), col("qn"),
        col("c_id").as("centroid_id"))
  }

  /** Two-level IVF assignment — the beyond-the-driver-cap path the
    * [[ivfAssign]] scaladoc documents (past [[MaxCentroids]] lists,
    * go hierarchical): level 1 assigns every vector to one of `n1`
    * deterministic seed cells via the broadcast driver model exactly
    * as [[ivfAssign]]; level 2 re-quantizes WITHIN each level-1 cell
    * against the cell's own `n2` smallest-id members, entirely
    * JOIN-SIDE — no level-2 driver model ever exists, so driver-held
    * state stays n1 rows while the effective list count is n1 × n2
    * (10⁵ × 10⁵ = 10¹⁰ lists inside the allowance). Returns
    * (id, v, nrm, cell1, cell2) — cell2 is the chosen level-2 seed's
    * global id.
    *
    * Determinism: both levels round cosine to 6 dp before the argmax
    * with ties to the smallest seed id (the library convention);
    * level-2 seeds are elected by a per-cell id-ordered row_number —
    * corpus-cardinality partitions, no funneling.
    *
    * Scale: the level-2 seed frame is n1·n2 rows keyed by cell1 — at
    * probe scale AQE broadcasts it and the only exchange is the
    * per-id argmax collapse; at full scale it exceeds broadcast and
    * the plan is two bounded exchanges (corpus by cell1, then by id),
    * with the ×n2 candidate fan-out collapsed map-side by the partial
    * max_by before either shuffle moves it. Never an all-pairs
    * product. */
  def ivfAssign2(emb: DataFrame, n1: Int, n2: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    require(n2 > 0, "n2 must be positive")
    // consumed twice (seed election + assignment) — materialize once
    val l1 = ivfAssign(emb, n1, 1, idCol, vecCol)
      .withColumnRenamed("centroid_id", "cell1")
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val seeds2 = l1.withColumn("_rk",
        row_number().over(Window.partitionBy(col("cell1")).orderBy(col("id"))))
      .filter(col("_rk") <= n2)
      .select(col("cell1"), col("id").as("s_id"), col("v").as("sv"),
        col("nrm").as("sn"))
    val denom = col("nrm") * col("sn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("v"), col("sv")) / denom)
    l1.join(seeds2, Seq("cell1"))
      .select(col("id"), col("v"), col("nrm"), col("cell1"), col("s_id"),
        round(sim, 6).as("_s"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("v"), col("nrm"), col("cell1"), col("s_id")),
        struct(col("_s"), (-col("s_id")).as("_t"))).as("b"))
      .select(col("id"), col("b.v").as("v"), col("b.nrm").as("nrm"),
        col("b.cell1").as("cell1"), col("b.s_id").as("cell2"))
  }

  /** Two-level IVF approximate top-k: probe `p1` level-1 cells, then
    * `p2` level-2 lists INSIDE each probed cell, exact cosine re-rank
    * of the probed lists' members only — [[ivfTopK]] with a
    * hierarchical probe so candidate volume scales with p1·p2 fine
    * lists out of n1·n2, while no single quantizer model exceeds the
    * driver allowance. The candidate join is an equi-join on cell2
    * (list-bounded shuffle); level-2 probe ranking runs over the
    * p1-probed cells' seed frames only (a (qid, cell1)-keyed
    * contraction). Same determinism conventions as [[ivfTopK]]. */
  def ivfTopK2(corpus: DataFrame, queries: DataFrame, k: Int,
               n1: Int = 8, n2: Int = 4, p1: Int = 3, p2: Int = 2,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val l1 = ivfAssign(corpus, n1, 1, idCol, vecCol)
      .withColumnRenamed("centroid_id", "cell1")
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val seeds2 = l1.withColumn("_rk",
        row_number().over(Window.partitionBy(col("cell1")).orderBy(col("id"))))
      .filter(col("_rk") <= n2)
      .select(col("cell1"), col("id").as("s_id"), col("v").as("sv"),
        col("nrm").as("sn"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    // corpus-side level-2 assignment (map-side-collapsed argmax)
    val sden = col("nrm") * col("sn")
    val ssim = when(sden === 0.0, 0.0)
      .otherwise(dot(col("v"), col("sv")) / sden)
    val assigned2 = l1.join(seeds2, Seq("cell1"))
      .select(col("id"), col("cell1"), col("s_id"), round(ssim, 6).as("_s"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cell1"), col("s_id")),
        struct(col("_s"), (-col("s_id")).as("_t"))).as("b"))
      .select(col("id"), col("b.cell1").as("cell1"), col("b.s_id").as("cell2"))
      .join(l1.select(col("id"), col("v"), col("nrm")), Seq("id"))
    // query-side probes: p1 level-1 cells, then p2 lists per cell
    val probes1 = ivfProbes(corpus, queries, n1, p1, idCol, vecCol)
      .withColumnRenamed("centroid_id", "cell1")
    val qden = col("qn") * col("sn")
    val qsim = when(qden === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("sv")) / qden)
    val w2 = Window.partitionBy(col("qid"), col("cell1"))
      .orderBy(col("_qs").desc, col("s_id"))
    val probes2 = probes1.join(seeds2, Seq("cell1"))
      .withColumn("_qs", round(qsim, 6))
      .withColumn("_qrk", row_number().over(w2))
      .filter(col("_qrk") <= p2)
      .select(col("qid"), col("qv"), col("qn"), col("s_id").as("cell2"))
    // exact re-rank of the probed lists' members
    val denom = col("qn") * col("nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("v")) / denom)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    assigned2.join(broadcast(probes2), Seq("cell2"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("cid"), round(sim, 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF approximate top-k: rank centroids per query, probe the
    * `nProbe` nearest centroid buckets, exact cosine re-rank inside the
    * probed buckets only. The candidate join is an equi-join on
    * centroid_id (bucket-bounded shuffle); recall is tuned by nProbe ×
    * nCentroids. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
    val probes = ivfProbes(corpus, queries, nCentroids, nProbe,
      idCol, vecCol)
    // candidates = vectors in probed buckets; exact re-rank
    val denom = col("qn") * col("nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("v")) / denom)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid"))
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("cid"), round(sim, 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-blocked near-dup pairs: the 100 TB form of `nearDupPairs` —
    * pairs are only checked inside a centroid bucket, so the join is an
    * equi-join on centroid_id instead of an O(n²) cross product. Pairs
    * straddling bucket boundaries are recovered by `nAssign`-way
    * multi-assignment (a pair is caught when ANY of their buckets
    * overlap); remaining recall loss is measured against the exact
    * variant in tests. Tune nCentroids for bucket selectivity and
    * nAssign for recall. The same pair can surface in up to nAssign
    * shared buckets — deduped on the id pair (cos_sim is deterministic
    * per pair, so which copy survives is irrelevant). */
  def nearDupPairsBlocked(emb: DataFrame, threshold: Double,
                          nCentroids: Int = 16, nAssign: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    // materialize the assignment once — both pair-join sides read it, and
    // lineage truncation keeps the centroid broadcast out of the join plan
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(sim, 4).as("cos_sim"))
      .dropDuplicates("vec_a", "vec_b")
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Per-vector nearest-neighbor profile within IVF blocks: each
    * vector's most-similar OTHER vector among its `nAssign` buckets —
    * low nn_sim = isolated/novel (synthetic-data and outlier triage),
    * high = duplicate pressure. The blocked form of "distance to
    * nearest neighbor": candidates come from an equi-join on
    * centroid_id, never an O(n²) cross product; the argmax is a
    * max(struct) inside the per-vector aggregate (6-dp rounding before
    * the argmax, the reproducibility convention). A vector alone in
    * all its buckets has no candidates and is absent.
    *
    * Emits (vec_id, nn_id, nn_sim, n_candidates). */
  def nnWithinBlocks(emb: DataFrame, nCentroids: Int = 16,
                     nAssign: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nid"),
        round(sim, 6).as("s"))
      // the same neighbor can surface via both shared buckets — the
      // argmax is unaffected, the candidate count dedups explicitly
      .groupBy(col("id"))
      .agg(max(struct(col("s"), (-col("nid")).as("nn"))).as("m"),
        countDistinct(col("nid")).as("n_candidates"))
      .select(col("id").as(idCol), (-col("m.nn")).as("nn_id"),
        col("m.s").as("nn_sim"), col("n_candidates"))
  }

  /** Hard-negative mining for contrastive training: per anchor vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label —
    * the "confusable but wrong" examples that make embedding training
    * data effective. Blocking is the shared deterministic IVF
    * assignment ([[ivfAssign]]), so candidates come from the
    * centroid-id equi-join, never an all-pairs product; the same
    * neighbor surfacing through both shared buckets is collapsed by
    * DISTINCT before ranking.
    *
    * Scale shape: bounded bucket join (hot-bucket guards live in the
    * assignment), per-anchor rank window keyed on the anchor id —
    * corpus-cardinality partitions, so no funneling — and the k-row
    * output per anchor. The recall/cost dial is (nCentroids, nAssign),
    * sized like the ANN path (k ∝ √n). */
  def hardNegatives(emb: DataFrame, k: Int = 3, nCentroids: Int = 16,
                    nAssign: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val labels = emb.select(col(idCol).as("lid"), col(labelCol).as("lbl"))
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .join(labels, col("id") === col("lid")).drop("lid")
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    val cands = assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") =!= col("b.id") && col("a.lbl") =!= col("b.lbl"))
      .select(col("a.id").as("id"), col("b.id").as("neg_id"),
        round(sim, 6).as("neg_sim"))
    // distinct + rank window, DELIBERATELY: the tempting single
    // collect_set + sorted-k-slice aggregate is NOT an improvement —
    // ObjectHashAggregate falls back to sort-based aggregation past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // distinct keys per task (every task here), and the partial stage
    // ships whole candidate buffers through the shuffle, so its "one
    // exchange" carries more bytes than these two row-level exchanges,
    // which sort-spill gracefully (probed at 100k vectors; no win,
    // with OOM exposure the row form doesn't have).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("neg_sim").desc, col("neg_id"))
    cands.distinct()
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("id").as(idCol), col("rk"), col("neg_id"), col("neg_sim"))
  }

  /** Cross-corpus semantic contamination: flag corpus vectors whose
    * cosine to ANY probe-set vector (benchmark/eval embeddings)
    * reaches `threshold` — the embedding-level complement of n-gram
    * decontamination (paraphrased leakage that exact shingles miss).
    * Blocking is one shared IVF assignment over both sides (the probe
    * flag joins back by id), so candidates come from the centroid
    * equi-join, never a corpus × probe cross product.
    *
    * Emits ONE row per corpus vector: (vec_id, probe_sim, probe_id,
    * contaminated) with nulls for corpus vectors that met no probe in
    * any shared bucket (un-probed = clean at this blocking recall). */
  def semanticContamination(emb: DataFrame, probePred: Column,
                            threshold: Double, nCentroids: Int = 16,
                            nAssign: Int = 2, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val flags = emb.select(col(idCol).as("fid"), probePred.as("is_probe"))
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .join(flags, col("id") === col("fid")).drop("fid")
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    val best = assigned.filter(!col("is_probe")).as("a")
      .join(assigned.filter(col("is_probe")).as("b"),
        col("a.centroid_id") === col("b.centroid_id"))
      .select(col("a.id").as("id"), col("b.id").as("pid"),
        round(sim, 6).as("s"))
      .groupBy(col("id"))
      .agg(max(struct(col("s"), (-col("pid")).as("np"))).as("m"))
      .select(col("id"), col("m.s").as("probe_sim"),
        (-col("m.np")).as("probe_id"))
    emb.select(col(idCol).as("id"), probePred.as("p")).filter(!col("p"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("probe_sim"), col("probe_id"),
        coalesce((col("probe_sim") >= threshold).cast("long"), lit(0L))
          .as("contaminated"))
  }

  /** Approximate top-k via multi-table SRP LSH: `tables` independent
    * signature tables; candidates are the union of corpus vectors
    * sharing the query's bucket in ANY table (standard L-table LSH —
    * recall ≈ 1-(1-p^bits)^tables), then exact cosine re-rank of the
    * candidates only.
    *
    * Scale: the shuffle is keyed on (table, signature) — bucket-bounded,
    * never a cross join; `bits` controls bucket size (selectivity),
    * `tables` buys recall with linear extra hashing. This is the plan
    * shape that survives a 100 TB corpus; `bruteTopK` is the exactness
    * yardstick. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 4, tables: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              scheme: Dedup.HashScheme = Dedup.FastHash): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sigs(df: DataFrame, id: String, v: String, n: String) = df
      .select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
      .withColumn(n, norm(col(v)))
      .join(srpSignatures(df, bits, tables, idCol, vecCol, scheme)
        .withColumnRenamed("id", id), Seq(id))
    val c = sigs(corpus, "cid", "cv", "cn")
    val q = sigs(queries, "qid", "qv", "qn")
    val cand = c.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("qv"), col("qn"), col("cid"), col("cv"), col("cn"))
      .dropDuplicates("qid", "cid")
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val scored = cand.select(col("qid"), col("cid"),
      round(sim, 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Corpus isotropy diagnostic: the distribution of cosine similarity
    * over deterministic offset pairs (vector i vs vector i+offset) as
    * an equi-width histogram in micro units, plus what it's FOR — a
    * collapsed or anisotropic embedding space (mean pairwise cosine far
    * above 0, the Ethayarajh-style "all vectors share a dominant
    * direction" pathology) makes every downstream cosine threshold
    * (near-dup tau, ANN recall, contamination) quietly meaningless, so
    * this is the first chart an embedding-quality report shows. Offset
    * pairing of an arbitrary id space stands in for uniform random
    * pairs WITHOUT an RNG: ids carry no geometric meaning, so (i, i+17)
    * is as unstructured as a seeded shuffle and exactly reproducible by
    * another engine.
    *
    * Scale: one id-keyed equi-join (the offset is folded into the join
    * key — never a cross join), one cosine per pair, then
    * [[graft.ops.Aggregations.equiWidthHistogram]]'s integer-exact
    * bucketing over the bins-sized contraction. Everything after the
    * join is bins-sized. */
  def pairCosineHistogram(emb: DataFrame, offset: Long = 17,
                          bins: Int = 20, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val b = e.select((col("id") - offset).as("id"), col("v").as("bv"),
      col("nrm").as("bn"))
    val denom = col("nrm") * col("bn")
    val cos = when(denom === 0.0, 0.0)
      .otherwise(dot(col("v"), col("bv")) / denom)
    val pairs = e.join(b, Seq("id"))
      .select(round(cos * 1e6).cast("long").as("cos_micro"))
    graft.ops.Aggregations.equiWidthHistogram(pairs, "cos_micro", bins)
  }

  /** Deterministic spherical k-means (Lloyd's iterations) — how the IVF
    * centroids of `ivfAssign` get TRAINED rather than seeded. Seeds are
    * the `k` smallest-id vectors (no RNG state); each iteration assigns
    * every vector to its max-cosine centroid (similarity rounded to
    * 6 dp before the argmax, ties to the smallest centroid id — the
    * library-wide reproducibility convention) and recomputes each
    * centroid as the element-wise mean of its members, rounded to 6 dp
    * so another engine replays the exact trajectory. Clusters that lose
    * all members keep their previous centroid. Returns (c_id, cv).
    *
    * Scale: each iteration's centroid frame (k × dim — a bounded
    * MODEL) is collected to the driver and shipped back inside the
    * [[graft.functions.IvfTopCentroids]] scoring expression, so
    * assignment is ONE projection per iteration with no
    * per-(vector, centroid) row (the ivfAssign lesson: the previous
    * broadcast-join + map-side-argmax was semantically identical but
    * materialized n×k joined rows copying the embedding arrays — mild
    * at k=8, the whole operator's cost at corpus-sized k). The mean
    * update aggregates through the `VectorMean` typed Aggregator,
    * whose partial buffers (one sum-vector per cluster per partition)
    * are the only shuffled bytes. The input projection is
    * localCheckpoint'd once since every iteration rescans it;
    * per-iteration centroid frames are checkpointed (and collected —
    * same eagerness class) to cut the growing lineage. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 2,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    var cents = e.orderBy(col("id")).limit(k)
      .select(col("id").as("c_id"), col("v").as("cv"))
    (0 until iters).foreach { _ =>
      // centroid norms from the SAME Spark expression the scoring
      // convention defines, collected WITH the model so the expression
      // sees bit-identical values
      val model = cents.withColumn("cn", norm(col("cv"))).collect()
      val ids = model.map(_.getLong(0))
      val cvs = model.map(_.getSeq[Double](1).toArray)
      val cns = model.map(_.getDouble(2))
      val assigned = e.select(
        element_at(graft.functions.VectorFunctions.ivf_top_centroids(
          col("v"), col("nrm"), ids, cvs, cns, 1), 1).as("c_id"),
        col("v"))
      val means = assigned.groupBy(col("c_id"))
        .agg(graft.functions.VectorAggregates.vector_micro_mean(col("v"))
          .as("mv"))
      cents = cents.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("mv"), col("cv")).as("cv"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }
    cents
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): train
    * spherical k-means centroids on the corpus embeddings, assign every
    * vector to its max-cosine centroid, and WITHIN each cluster drop
    * any vector that has a lower-id neighbor with cosine ≥ `tau` (the
    * library's one-pass min-id survivor convention — `Dedup.survivors`
    * for the text tier). Embedding near-dups that land in different
    * clusters are intentionally not compared: the clustering IS the
    * blocking scheme, which is what makes the op subquadratic.
    *
    * Returns one row per vector: (vec_id, cluster, kept ∈ {0,1}).
    *
    * Scale shape: training and assignment broadcast k centroids (the
    * corpus never shuffles for them — see `kmeansCentroids`); the only
    * wide operation is the within-cluster self-join, whose key is the
    * cluster id, so its cost is Σ nᵢ² over cluster sizes — k sized to
    * the corpus (n/k vectors per cluster) keeps it linear-ish, and a
    * skewed mega-cluster is handled the same way `minhashPairs` caps
    * hot buckets: raise k or pre-split on a secondary LSH key before
    * this op, rather than paying n² inside one cluster. */
  def semanticDedup(emb: DataFrame, k: Int = 8, iters: Int = 2,
                    tau: Double = 0.7,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // trained model collected once (k × dim, bounded) and scored per
    // vector in one projection — no n×k join rows, no id rejoin (the
    // kmeansCentroids/ivfAssign lesson). Checkpointed because three
    // consumers follow (both self-join sides + the verdict join) —
    // without it the whole training+assignment pipeline re-executes
    // per consumer.
    val model = kmeansCentroids(emb, k, iters, idCol, vecCol)
      .withColumn("cn", norm(col("cv"))).collect()
    val ids = model.map(_.getLong(0))
    val cvs = model.map(_.getSeq[Double](1).toArray)
    val cns = model.map(_.getDouble(2))
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val assigned = e.select(col("id"),
        element_at(graft.functions.VectorFunctions.ivf_top_centroids(
          col("v"), col("nrm"), ids, cvs, cns, 1), 1).as("cluster"),
        col("v"), col("nrm"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val pd = col("a.nrm") * col("b.nrm")
    val psim = when(pd === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / pd)
    // a vector is dropped iff some LOWER-id cluster-mate sits above tau
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(round(psim, 6) >= tau)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dropped.withColumn("_drop", lit(1L)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        when(col("_drop").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Product quantization (IVF-PQ codebook tier): split each vector into
    * `m` contiguous `dsub`-dim subvectors, train an independent L2
    * k-means codebook of `k` codes per subspace, and emit each vector's
    * code per subspace — the standard 64-dim-float → m-byte compression
    * behind billion-scale ANN indexes (Jégou et al., TPAMI 2011).
    *
    * Determinism mirrors `kmeansCentroids`: seeds are the subvectors of
    * the `k` smallest-id vectors (codes ARE those seed ids), L2
    * distances expand to dot products (codegen `DotProduct`, no
    * interpreted zip) and round at 6 dp before the argmin (ties to the
    * smallest code), means are exact integer micro means on the 6-dp
    * grid, emptied codes keep their previous centroid — so an oracle
    * replays the exact trajectory.
    *
    * Scale: a corpus whose subvector frame fits
    * `spark.sql.autoBroadcastJoinThreshold` (one bounded fetch, see
    * [[pqCore]]) trains and encodes on the driver, and the codes come
    * back as a local relation. Larger corpora train distributed:
    * codebooks are m·k rows broadcast everywhere; the corpus never
    * shuffles for assignment — the only exchanges are the
    * VectorMicroMean partial buffers (m·k per partition) during
    * training. The subvector frame is localCheckpoint'd once: training
    * and the final encode rescan it, not the source column. The argmin
    * collapses map-side via min_by, so no n·m·k row window shuffle. */
  def pqEncode(emb: DataFrame, m: Int = 8, dsub: Int = 8, k: Int = 8,
               iters: Int = 1,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val vecs = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    pqCore(vecs, m, dsub, k, iters)._1
      .select(col("id").as(idCol), col("sub"), col("code"))
  }

  /** PQ training core over a prepared (id, v: array<double>) frame:
    * returns the codes (id, sub, code) — the final assignment pass over
    * the subvector frame — and the final codebooks (sub, c_id, cv).
    * Shared by [[pqEncode]] and the index builders so the trajectory
    * (seeds, 6-dp argmin/means, empty-code carry) stays byte-identical
    * between the code dump and the search path.
    * `seedOffset` skips that many smallest-id rows before taking the
    * `k` seed vectors — [[residualPqBuild]] sets it to nCentroids so
    * seeds are never the (~zero) residuals of the coarse centroids
    * themselves, which would waste codebook entries on duplicates.
    *
    * Scale: one bounded fetch of the (id, sub, sv) subvector frame
    * decides the path ([[Dedup.fetchIfSmall]]: at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes at 12 + 8·dsub bytes
    * a row, ≤ 0 disables it). When it fits, [[pqTrainLocal]] trains
    * and encodes on the driver and both frames come back as local
    * relations — the two-phase finish of Kiveris et al. (SoCC 2014),
    * which spares a small corpus the ~12 jobs of the distributed
    * passes, whose time there is scheduling, not arithmetic.
    * Otherwise the subvector frame is localCheckpoint'd once, training
    * and the final encode rescan it, each pass broadcasts the m·k
    * codebook rows and collapses its argmin map-side, and each
    * superseded codebook checkpoint is released as the next one
    * lands. With `pin` the codes are checkpointed too, and then the
    * subvector checkpoint is released unless the (iters = 0)
    * codebooks still read it; without it the codes stay lazy over
    * that checkpoint. */
  private def pqCore(vecs: DataFrame, m: Int, dsub: Int, k: Int,
                     iters: Int, seedOffset: Int = 0,
                     pin: Boolean = false): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.storage.StorageLevel
    require(m > 0 && dsub > 0 && k > 0 && iters >= 0,
      "m, dsub, k must be positive and iters non-negative")
    require(seedOffset >= 0, "seedOffset must be non-negative")
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    val exploded = vecs.select(col("id"), subvectors(col("v"), m, dsub))
    val seeds = vecs.select(col("id")).orderBy(col("id"))
      .offset(seedOffset).limit(k)
    def seedCents(subs: DataFrame) = subs.join(broadcast(seeds), "id")
      .select(col("sub"), col("id").as("c_id"), col("sv").as("cv"))
    def step(subs: DataFrame, cents: DataFrame) = {
      val means = pqAssignCore(subs, cents)
        .select(col("sub"), col("best.c_id").as("c_id"),
          col("best.sv").as("sv"))
        .groupBy(col("sub"), col("c_id"))
        .agg(graft.functions.VectorAggregates.vector_micro_mean(col("sv"))
          .as("mv"))
        .select(col("sub"), col("c_id"), col("mv"))
      cents.join(means, Seq("sub", "c_id"), "left")
        .select(col("sub"), col("c_id"),
          coalesce(col("mv"), col("cv")).as("cv"))
    }
    def encode(subs: DataFrame, cents: DataFrame) = pqAssignCore(subs, cents)
      .select(col("id"), col("sub"), col("best.c_id").as("code"))
    // a row holds a long id, an int sub and dsub doubles (Spark's
    // defaultSize would count the array as one element)
    Dedup.fetchIfSmall(exploded, Some(12L + 8L * dsub))
      .flatMap(pqTrainLocal(_, k, iters, seedOffset)) match {
      case Some((codes, cents)) =>
        // the distributed frames' schemas, read off their unexecuted plans
        val centsPlan = (0 until math.min(iters, 1))
          .foldLeft(seedCents(exploded))((c, _) => step(exploded, c))
        val spark = vecs.sparkSession
        (spark.createDataFrame(codes.asJava, encode(exploded, centsPlan).schema),
          spark.createDataFrame(cents.asJava, centsPlan.schema))
      case None =>
        val subs = exploded.localCheckpoint(true, lvl)
        var cents = seedCents(subs)
        (0 until iters).foreach { i =>
          val next = step(subs, cents).localCheckpoint(true, lvl)
          if (i > 0) Dedup.release(cents)
          cents = next
        }
        val codes = encode(subs, cents)
        if (!pin) (codes, cents)
        else {
          val pinned = codes.localCheckpoint(true, lvl)
          if (iters > 0) Dedup.release(subs)
          (pinned, cents)
        }
    }
  }

  /** [[pqCore]]'s trajectory replayed on the driver over its fetched
    * (id, sub, sv) rows: the same seeds (the `k` smallest ids after
    * `seedOffset`), the same argmin — `DotProduct`'s loop order, Spark's
    * `round(_, 6)` ([[graft.functions.Round6]]) and Spark's double
    * comparison, ties to the smallest code — and the same means,
    * [[graft.functions.VectorMicroMean]]'s own reduce and finish over
    * exact Long micros, with emptied codes keeping their centroid. The
    * 6-dp grid and the integer means make every step independent of
    * evaluation order, so the rows equal the distributed path's.
    * Returns the (id, sub, code) and (sub, c_id, cv) rows, or None for
    * input the replay does not cover: ids that are null, repeated or
    * not long, and subvectors that are null, hold a null or differ in
    * length within a subspace. */
  private def pqTrainLocal(rows: Array[Row], k: Int, iters: Int,
                           seedOffset: Int): Option[(Seq[Row], Seq[Row])] = {
    import graft.functions.{Round6, VectorMicroMean}
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    // SQLOrderingUtil.compareDoubles: -0.0 = 0.0, NaN above everything
    def less(x: Double, y: Double): Boolean =
      x != y && java.lang.Double.compare(x, y) < 0
    val covered = rows.forall(r => r.get(0).isInstanceOf[java.lang.Long] &&
      !r.isNullAt(2) && !r.getSeq[Any](2).contains(null))
    lazy val ids = rows.map(_.getLong(0))
    lazy val sortedIds = ids.distinct.sorted
    lazy val bySub = rows.indices.groupBy(rows(_).getInt(1)).toSeq.sortBy(_._1)
    lazy val svs = bySub.map { case (_, is) =>
      is.map(rows(_).getSeq[Double](2).toArray) }
    // each vector explodes to one row per subspace, so the ids are
    // distinct iff there are (distinct ids) × (subspaces) rows
    val exact = covered &&
      sortedIds.length * bySub.length == rows.length &&
      svs.forall(_.map(_.length).distinct.length <= 1)
    Option.when(exact) {
      val seedIds = sortedIds.slice(seedOffset, seedOffset + k)
      bySub.zip(svs).map { case ((sub, is), sv) =>
        val pos = is.indices.map(p => ids(is(p)) -> p).toMap
        val svv = sv.map(a => dotp(a, a))
        def assign(cv: IndexedSeq[Array[Double]]): IndexedSeq[Int] = {
          val cvv = cv.map(c => dotp(c, c))
          sv.indices.map { i =>
            var best = -1
            var bestD = 0.0
            cv.indices.foreach { j =>
              val d = Round6(svv(i) - 2.0 * dotp(sv(i), cv(j)) + cvv(j))
              if (best < 0 || less(d, bestD)) { best = j; bestD = d }
            }
            best
          }
        }
        val seedCv = seedIds.toIndexedSeq.map(s => sv(pos(s)))
        val cv = (0 until iters).foldLeft(seedCv) { (cv, _) =>
          val members = assign(cv).zip(sv).groupMap(_._1)(_._2)
          cv.indices.map(j => members.get(j).fold(cv(j))(vs =>
            VectorMicroMean.finish(vs.foldLeft(VectorMicroMean.zero)(
              VectorMicroMean.reduce))))
        }
        val codes = assign(cv).zipWithIndex.collect {
          case (j, i) if j >= 0 => Row(ids(is(i)), sub, seedIds(j))
        }
        val cents = cv.indices.map(j => Row(sub, seedIds(j),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(cv(j))))
        (codes, cents)
      }.unzip match { case (codes, cents) => (codes.flatten, cents.flatten) }
    }
  }

  /** Nearest-code assignment per (id, sub): 6-dp-rounded L2 argmin,
    * ties to the smallest code, collapsed map-side via min_by. Columns
    * of `subs` other than (sub, sv) ride along as grouping keys; they
    * must be functionally dependent on `id` (an IVF delta's
    * `centroid_id`), so the groups are the (id, sub) ones. */
  private def pqAssignCore(subs: DataFrame, cents: DataFrame): DataFrame = {
    val dist2 = round(
      dot(col("sv"), col("sv")) - lit(2) * dot(col("sv"), col("cv")) +
        dot(col("cv"), col("cv")), 6)
    val keys = subs.columns.filterNot(Set("sub", "sv")) :+ "sub"
    subs.join(broadcast(cents), "sub")
      .withColumn("_d", dist2)
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(min_by(struct(col("c_id"), col("sv")),
        struct(col("_d"), col("c_id"))).as("best"))
  }

  /** `v` cut into `m` consecutive `dsub`-dim subvectors, exploded to
    * one (sub, sv) row per subspace. */
  private def subvectors(v: Column, m: Int, dsub: Int): Column =
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(v, s * dsub + 1, lit(dsub)))).as(Seq("sub", "sv"))

  /** A double pinned to an exact BIGINT micro, `floor(x·1e6 + 0.5)`. */
  private def micro(x: Column): Column = floor(x * 1e6 + lit(0.5)).cast("long")

  /** Squared L2 distance of two arrays in exact integer micro²: every
    * element pinned by [[micro]] before any arithmetic, so the sum is
    * order-free and bit-identical across engines. */
  private def microDist2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (micro(x) - micro(y)) * (micro(x) - micro(y))),
      lit(0L), (acc, x) => acc + x)

  /** Per-(query, subspace, codeword) ADC lookup table shared by
    * [[pqAdcSearch]] and [[ivfPqSearch]]: exact integer micro² squared
    * distances — every element pinned to a BIGINT micro via
    * `floor(x·1e6 + 0.5)` BEFORE any arithmetic (bit-identical across
    * engines; a 6-dp `round` here flipped boundary values downstream
    * of differently-accumulated norms), so the per-pair m-term sum is
    * order-free. ONE shared body so a quantization change can never
    * desynchronize the flat and blocked scans. The HOF runs
    * interpreted, but only over the n_q·m·k LUT rows (kilobytes).
    * Returns (qid, sub, c_id, dm). */
  private def pqLut(queries: DataFrame, cents: DataFrame,
                    m: Int, dsub: Int,
                    idCol: String, vecCol: String): DataFrame = {
    val qsubs = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("v"))
      .select(col("qid"), subvectors(col("v"), m, dsub))
    qsubs.join(broadcast(cents), "sub")
      .select(col("qid"), col("sub"), col("c_id"),
        microDist2(col("sv"), col("cv")).as("dm"))
  }

  /** A trained PQ index: the encoded corpus `codes` (id, sub, code),
    * eagerly checkpointed (or a local relation when trained on the
    * driver), plus the codebooks `cents` (sub, c_id, cv)
    * and the training geometry (`m` subspaces of `dsub` dims) — the
    * FAISS train→add→search lifecycle. At 100 TB the build (3
    * assignment passes over the corpus) amortizes across every batch
    * that searches it; the repo's q177/q178/q185/q186 share one build
    * the same way.
    *
    * One type serves both index kinds (Jégou et al. TPAMI 2011: IVFPQ
    * is PQ with a coarse quantizer in front):
    *  - flat (`ivf` = None): codes quantize the raw vectors. Built by
    *    [[pqBuild]], searched by [[pqAdcSearch]] (flat ADC scan) or
    *    [[ivfPqSearch]] (cells re-derived from a corpus).
    *  - IVF (`ivf` = Some): codes quantize RESIDUALS v − μ(cell)
    *    against a coarse quantizer ([[PqIvf]]). Built by
    *    [[residualPqBuild]], searched by [[residualPqSearch]].
    * Save/load, the frozen add, drift and refine uplift take either
    * kind; the IVF branch differs only by recentring each vector on
    * its cell's frozen mean before the subvector cut. */
  final case class PqIndex(m: Int, dsub: Int,
                           codes: DataFrame, cents: DataFrame,
                           ivf: Option[PqIvf] = None) {
    /** The indexed ids, one row each: the stored cell assignment of an
      * IVF index, else the codes' sub = 0 slice. */
    private[graft] def ids: DataFrame =
      ivf.fold(codes.filter(col("sub") === 0))(_.cells).select(col("id"))

    /** Every frame the index holds. */
    private[graft] def frames: Seq[DataFrame] = Seq(codes, cents) ++
      ivf.toSeq.flatMap(i => Seq(i.coarse, i.recenter, i.cells))

    /** This index plus `fresh` rows in the [[pqEncodeFresh]] shape, as
      * lazy unions: their codes, and an IVF index's cell assignments
      * (the sub = 0 slice). */
    private[graft] def grown(fresh: DataFrame): PqIndex = copy(
      codes = codes.unionAll(fresh.select(col("id"), col("sub"), col("code"))),
      ivf = ivf.map(i => i.copy(cells = i.cells.unionAll(
        fresh.filter(col("sub") === 0).select(col("id"), col("centroid_id"))))))
  }

  /** The coarse quantizer of an IVF [[PqIndex]] (the full FAISS
    * `IndexIVFPQ` shape, Jégou et al. TPAMI 2011 §V): vectors are
    * coarse-quantized into `nCentroids` IVF cells and the PQ codebooks
    * are trained on RESIDUALS r = v − μ(cell) rather than the raw
    * vectors. The recentring vector μ is the cell's MEMBER MEAN —
    * exactly what a trained coarse quantizer converges to — NOT the
    * deterministic seed vector that names the cell: cells stay the
    * cheap smallest-id-seed assignment (shared with the flat index, so
    * q190's uplift comparison holds candidates fixed), while
    * recentring is optimal for those cells (E‖v−μ‖² = within-cell
    * variance ≤ E‖v‖², guaranteed — recentring on the unit seed vector
    * instead MEASURED ‖r‖ ≈ 1.21 > ‖v‖ on this corpus and made recall
    * WORSE). Smaller residual spread means the same code budget
    * (m × kCodes) resolves finer — that is the uplift. The price: ADC
    * lookup tables become per-(query, probed cell) — the query's
    * residual differs per cell — so no flat compressed scan exists;
    * search is inherently cell-blocked.
    *
    * The frames make the index SELF-CONTAINED (nothing re-derived from
    * a corpus at serve time — the [[savePqIndex]] lifecycle
    * requirement, and the only way a frozen-quantizer add can exist):
    * `coarse` the nCentroids seed centroids (c_id, cv, cn) the coarse
    * quantizer ranks against, `recenter` the (c_id, mv) per-cell mean
    * frame (6-dp rounded — the k-means trajectory convention), and
    * `cells` the indexed vectors' cell assignment (id, centroid_id)
    * the candidate filter joins. */
  final case class PqIvf(nCentroids: Int, coarse: DataFrame,
                         recenter: DataFrame, cells: DataFrame)

  /** The one step an IVF index adds to the flat add and drift paths:
    * each row's `v` recentred on its cell's frozen member mean,
    * v − μ(cell) — the quantity the residual codes encode. `assign`
    * gives `vecs` its cell (a `centroid_id` column): the stored
    * assignment for indexed ids, the frozen coarse quantizer for fresh
    * ones. The other columns of the assigned frame pass through.
    * Identity on a flat index. */
  private def residualise(index: PqIndex, vecs: DataFrame)
                         (assign: PqIvf => DataFrame): DataFrame =
    index.ivf.fold(vecs)(ivf => recentre(assign(ivf), ivf.recenter))

  /** `assigned` rows (a `v` and its cell `centroid_id`) with `v`
    * replaced by v − mv of the cell's (c_id, mv) row in `recenter` (a
    * broadcast join); the other columns pass through. */
  private def recentre(assigned: DataFrame, recenter: DataFrame): DataFrame =
    assigned
      .join(broadcast(recenter), col("centroid_id") === col("c_id"))
      .select(assigned.columns.filter(_ != "v").map(col).toIndexedSeq :+
        zip_with(col("v"), col("mv"), (a, b) => a - b).as("v"): _*)

  /** Train codebooks and encode the corpus once (the expensive tier of
    * every PQ query: subvector explode + `iters`+1 assignment passes).
    * Trajectory is [[pqEncode]]'s exactly — seeds, 6-dp argmin/means,
    * empty-code carry — so an oracle replay stays byte-identical no
    * matter which search path consumes the index.
    *
    * Scale: [[pqCore]]'s two paths. A corpus whose subvector frame
    * fits `spark.sql.autoBroadcastJoinThreshold` trains on the driver
    * after one bounded fetch; `codes` and `cents` are local relations
    * and nothing stays checkpointed. Otherwise the passes run
    * distributed and `codes` is checkpointed, so repeated searches
    * scan n·m skinny rows, never the source floats; the index then
    * holds that checkpoint and the final codebooks' (the subvector
    * and superseded codebook checkpoints are released). */
  def pqBuild(corpus: DataFrame, m: Int = 8, dsub: Int = 8,
              kCodes: Int = 8, iters: Int = 1,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): PqIndex = {
    val (codes, cents) = pqCore(
      corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")),
      m, dsub, kCodes, iters, pin = true)
    PqIndex(m, dsub, codes, cents)
  }

  /** Erasure applied to a built flat [[PqIndex]] WITHOUT retraining — the
    * FAISS remove_ids() half of the GDPR path: a delete-key feed
    * (takedowns, erasure requests) anti-joins the codes table, so a
    * deleted vector can never appear in any subsequent search, while
    * the codebooks stay frozen (they were trained on data that
    * included the deleted rows — acceptable for nearest-neighbor
    * serving, since codebooks are aggregate geometry, but a
    * policy-level retrain trigger if the delete volume drifts the
    * distribution; [[pqDriftStats]] is the gate that measures that).
    *
    * Scale: one id-equi anti-join on the skinny (id, sub, code) frame
    * against the (broadcastable) delete-key set; codebooks untouched. */
  def erasePqIndex(index: PqIndex, deleteKeys: DataFrame): PqIndex = {
    requireFlat(index, "erasePqIndex")
    index.copy(codes = index.codes.join(
      deleteKeys.toDF("id").select(col("id")), Seq("id"), "left_anti"))
  }

  /** Persist a [[PqIndex]] as parquet dirs under `dir` — the missing
    * half of the FAISS train→add→search lifecycle: at 100 TB the build
    * (multiple corpus passes) runs ONCE in a training job, and every
    * serving job [[loadPqIndex]]s the artifact instead of retraining.
    * `codes/`, `cents/` and the 1-row geometry frame `meta/` (m, dsub,
    * n_centroids — null for a flat index) always; an IVF index adds
    * `cells/`, `recenter/` and `coarse/`. Codes and cells are the
    * corpus-sized tables (write dominates); codebooks, recentring
    * means, coarse seeds and meta are kilobytes. */
  def savePqIndex(index: PqIndex, dir: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    index.ivf.foreach(_.cells.write.mode("overwrite").parquet(s"$dir/cells"))
    index.cents.write.mode("overwrite").parquet(s"$dir/cents")
    index.ivf.foreach { ivf =>
      ivf.recenter.write.mode("overwrite").parquet(s"$dir/recenter")
      ivf.coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    }
    val spark = index.codes.sparkSession
    import spark.implicits._
    Seq((index.m, index.dsub, index.ivf.map(_.nCentroids)))
      .toDF("m", "dsub", "n_centroids")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Read a [[savePqIndex]] artifact back. Frames load as plain
    * parquet scans (lazy — serving reads ARE the deployment shape;
    * callers that search many batches in one session may
    * localCheckpoint). Search results over a loaded index are
    * bit-identical to the in-session build: codes, codebooks, means
    * and seeds are exact integers/doubles, and parquet round-trips
    * them exactly. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  dir: String): PqIndex = {
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    def read(frame: String) = spark.read.parquet(s"$dir/$frame")
    PqIndex(meta.getAs[Int]("m"), meta.getAs[Int]("dsub"),
      read("codes"), read("cents"),
      Option(meta.getAs[Integer]("n_centroids")).map(n =>
        PqIvf(n, read("coarse"), read("recenter"), read("cells"))))
  }

  /** FAISS `add()` semantics: encode `delta` vectors with the index's
    * FROZEN quantizers — no retraining — and append their codes (and,
    * for an IVF index, their cell assignments). The serve-time growth
    * path for a streaming corpus: assignment is the same
    * broadcast-codebook argmin as the build's final pass (one
    * projection + map-side min_by over the delta only), and ONLY the
    * delta rows are materialized (eager delta-sized checkpoint; the
    * grown frames are lazy unions over the base's already-checkpointed
    * blocks), so k successive adds cost O(Σ deltas) encode/storage —
    * never k rewrites of the grown codes table. The one base-sized
    * touch per add is a read-only id scan ([[PqIndex.ids]]): delta ids
    * already present in the index are dropped (left_anti), so
    * re-adding a batch is a no-op instead of silently double-counting
    * every downstream ADC sum with duplicate (id, sub) rows.
    *
    * On an IVF index everything is FROZEN: delta vectors coarse-assign
    * against the stored seed centroids (the [[ivfAssign]] convention,
    * so an added vector lands exactly where a from-scratch assignment
    * against the same seeds would put it), recentre on the frozen
    * per-cell member means, and encode against the frozen residual
    * codebooks. The recentring means deliberately do NOT update (the
    * stored codes were encoded against them, and a moved mean would
    * silently skew every existing cell's geometry).
    *
    * Quantization error for delta vectors is measured against the
    * TRAINING distribution — retrain when a drift gate
    * ([[pqDriftStats]], the q116/q136 pattern) says the delta no
    * longer looks like the training corpus. */
  def pqIndexAdd(index: PqIndex, delta: DataFrame,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): PqIndex = {
    import org.apache.spark.storage.StorageLevel
    index.grown(pqEncodeFresh(index, delta, index.ids, idCol, vecCol)
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER))
  }

  /** Frozen-quantizer encode of `delta` vectors EXCLUDING ids already
    * in `seenIds` (an `id`-column frame) — the codes-only half of
    * [[pqIndexAdd]], exposed for the streaming ingest path
    * ([[graft.stream.VectorIngest]]), which persists per-batch
    * partitions instead of growing an in-memory index. Returns the
    * LAZY (id, sub, code) frame; on an IVF index the cell assignment
    * rides on every code row as a fourth column, `centroid_id`
    * (recoverable as the sub = 0 slice), so one partition write
    * captures both halves of the grown state. Callers pin or write
    * it. */
  def pqEncodeFresh(index: PqIndex, delta: DataFrame,
                    seenIds: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val vecs = delta.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val seen = seenIds.select(col("id"))
    // a seen-id set within the broadcast threshold is fetched once and
    // anti-joined as a broadcast local relation, so the plan is fixed
    // before any stage runs (a shuffled join's final plan follows AQE's
    // stage timing); a larger one keeps the planner's join
    val seenSide = Dedup.fetchIfSmall(seen).fold(seen)(rows => broadcast(
      delta.sparkSession.createDataFrame(rows.toSeq.asJava, seen.schema)))
    val fresh = vecs.join(seenSide, Seq("id"), "left_anti")
    val resid = residualise(index, fresh) { ivf =>
      // coarse assignment against the FROZEN stored seeds (6-dp cosine
      // argmax, smallest-c_id ties — the ivfAssign convention):
      // broadcast nCentroids rows, map-side-collapsed argmax (the
      // ivfAssign2 join-side shape — no driver model needed for an add)
      val denom = col("nrm") * col("cn")
      val sim = when(denom === 0.0, 0.0)
        .otherwise(dot(col("v"), col("cv")) / denom)
      fresh.withColumn("nrm", norm(col("v")))
        .join(broadcast(ivf.coarse.select(col("c_id"), col("cv"),
          col("cn"))), lit(true))
        .select(col("id"), col("v"), col("c_id"), round(sim, 6).as("_s"))
        .groupBy(col("id"))
        .agg(max_by(struct(col("v"), col("c_id")),
          struct(col("_s"), (-col("c_id")).as("_t"))).as("b"))
        .select(col("id"), col("b.v").as("v"),
          col("b.c_id").as("centroid_id"))
    }
    val subs = resid.select(
      resid.columns.filter(_ != "v").map(col).toIndexedSeq :+
        subvectors(col("v"), index.m, index.dsub): _*)
    pqAssignCore(subs, index.cents)
      .select(Seq(col("id"), col("sub"), col("best.c_id").as("code")) ++
        index.ivf.map(_ => col("centroid_id")): _*)
  }

  /** Quantization-drift statistics — the retrain trigger for
    * [[pqIndexAdd]]: per cohort (e.g. the training base vs an added
    * delta), the mean ADC reconstruction error of each vector's codes
    * against its own subvectors, in exact integer micro² (the
    * [[pqLut]] convention, so the numbers are reduce-order-free and
    * cross-engine exact). Codebooks quantize the TRAINING
    * distribution; when added data drifts, its reconstruction error
    * rises relative to the base — gate on
    * `mean_err(delta) ≤ c × mean_err(base)` and retrain when it
    * trips (the q116/q136 drift-gate pattern applied to the index).
    *
    * Emits one row per cohort: (cohort, n_vecs, sum_err,
    * mean_err) — mean via exact integer division.
    *
    * Overflow: a per-vector err is bounded (≤ dims × ~1e12 micro² ≈
    * 6.4e13 at 64 dims) and stays BIGINT; the COHORT sum accumulates
    * as decimal(38,0) internally (overflow-proof) but is EMITTED as
    * BIGINT — worst-case corpus error sum ≈ 5e17 at sf0.1 « 2^63, and
    * a decimal output column is the one type the driver's result hash
    * canonicalizes differently from the local oracle (the r12–r13
    * chronic-red lesson: no registered query emits DecimalType;
    * SchemaContractSpec enforces it). The narrowing is guarded by
    * [[decToLongStrict]]: past the headroom it raises instead of
    * non-ANSI cast's silent NULL (which the DuckDB oracle, whose
    * CAST errors, could never match). `mean_err` divides the decimal
    * sum exactly back into the per-vector BIGINT range.
    *
    * On an IVF index the error is against each vector's RESIDUAL
    * subvectors (v minus its frozen cell mean — the quantity the codes
    * actually encode). The cell comes from the index's stored
    * assignment, the mean from the frozen recentring frame, so the
    * measurement is against the frozen quantizer exactly as served
    * (the grown-residual retrain trigger, q204).
    *
    * Scale: one pass over `vectors` (subvector explode ×m), an
    * equi-join against the skinny codes on (id, sub), a broadcast
    * codebook join (plus, on an IVF index, the cell join and one
    * broadcast recentring join), map-side-combined integer sums — the
    * shuffle is one row per id, then per cohort. */
  def pqDriftStats(index: PqIndex, vectors: DataFrame, cohort: Column,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val vecs = vectors
      .select(col(idCol).as("id"), cohort.as("cohort"),
        asDouble(col(vecCol)).as("v"))
    val subs = residualise(index, vecs)(ivf => vecs.join(ivf.cells, Seq("id")))
      .select(col("id"), col("cohort"),
        subvectors(col("v"), index.m, index.dsub))
    val cents = index.cents.select(col("sub").as("csub"),
      col("c_id"), col("cv"))
    val err = subs
      .join(index.codes, Seq("id", "sub"))
      .join(broadcast(cents),
        col("sub") === col("csub") && col("code") === col("c_id"))
      .select(col("id"), col("cohort"),
        microDist2(col("sv"), col("cv")).as("e2"))
    err.groupBy(col("id"), col("cohort"))
      .agg(sum(col("e2")).as("err"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err").cast("decimal(38,0)")).as("sum_err_dec"))
      .select(col("cohort"), col("n_vecs"),
        decToLongStrict(col("sum_err_dec"), "sum_err").as("sum_err"),
        decToLongStrict(expr("sum_err_dec div n_vecs"), "mean_err")
          .as("mean_err"))
      .orderBy(col("cohort"))
  }

  /** The quantization-ladder summary table — the storage-tier decision
    * every vector deployment makes, as ONE measured frame: recall@k of
    * each compression point against the exact yardstick, one row per
    * tier (tier, compression_x, n_q, sum_hits, mean_recall_micro)
    * ordered by compression. Tiers: raw float32 (1×, recall 1 by
    * construction — the anchor row), SQ8 (4×), SQ4 (8×), binary
    * mean-threshold codes (32× — [[bqTopK]], the candidate-generator
    * rung whose low standalone recall is exactly what the table should
    * show next to [[bqRefineUpliftStats]]'s refined number), and the
    * caller's PQ index, whose label and compression are DERIVED from
    * its geometry (`pq_<m>x<kCodes>`; m·dsub float32 dims vs m codes
    * of ⌈log₂k/8⌉-aligned bytes — e.g. 16 one-byte codes over 64 dims
    * = 16×, but an m=2/dsub=2 fixture index is 8×, and a k>256
    * codebook costs 2 bytes a code), never hardcoded: a wrong
    * compression factor here corrupts the exact decision the table
    * exists to inform. Composes the per-tier gates (q206/q224/q178)
    * into the single consumable: read the row whose recall clears
    * your floor, take its compression.
    *
    * Scale: an EVAL operator — the yardstick and each tier scan run
    * on the query sample; the exact top-k is computed once and pinned
    * (four consumers). The kCodes derivation counts the codebook
    * frame (m·k rows — kilobytes, the broadcast model). The tier rows
    * come back as a local relation, and the frames pinned along the
    * way (the yardstick, the SQ and binary corpora) are released; the
    * index's frames stay ([[Dedup.finishLocal]]). */
  def quantLadderStats(index: PqIndex, corpus: DataFrame,
                       queries: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val kCodes = (index.cents.count() / index.m).toInt
    val codeBytes =
      if (kCodes <= 256) 1L else if (kCodes <= 65536) 2L else 4L
    val pqCompX = (index.dsub * 4L) / codeBytes
    val exact = bruteTopK(corpus, queries, k, idCol, vecCol)
      .select(col("qid"), col("cid")).localCheckpoint(true)
    def tier(name: String, compX: Long, approx: DataFrame) =
      recallStats(exact, approx, k)
        .select(lit(name).as("tier"), lit(compX).as("compression_x"),
          col("n_q"), col("sum_hits"), col("mean_recall_micro"))
    val ladder = Seq(
      tier("raw_float32", 1L, exact),
      tier("sq8_int8", 4L, sq8TopK(corpus, queries, k, idCol, vecCol)),
      tier("sq4_int4", 8L, sq4TopK(corpus, queries, k, idCol, vecCol)),
      tier(s"pq_${index.m}x$kCodes", pqCompX,
        pqAdcSearch(index, queries, k, idCol, vecCol)),
      tier("bq_1bit", 32L, bqTopK(corpus, queries, k, idCol, vecCol)))
      .reduce(_.unionAll(_))
      .orderBy(col("compression_x"), col("tier"))
    Dedup.finishLocal(ladder, index.frames ++ Seq(corpus, queries): _*)
  }

  /** Storage-tier advisor over a measured [[quantLadderStats]] frame —
    * the DECISION the ladder exists to inform, as one replayable row:
    * among tiers whose measured recall clears `targetRecallMicro`,
    * take the highest compression (cheapest storage that still
    * answers well); if NO tier qualifies, fall back to the
    * best-recall tier (degraded mode must still pick something, and
    * the n_qualifying = 0 column is the alarm). Ties break on tier
    * name. Mirrors the q196/q203 join-advisor pattern: measured
    * stats in, one deterministic decision out — the planner decides
    * from MEASURED state, never from assumptions.
    *
    * Scale: arithmetic over the ≤|tiers| ladder frame (a handful of
    * rows); the measurement cost lives in the ladder, which runs on
    * query samples by design. */
  def indexTierAdvisor(ladder: DataFrame,
                       targetRecallMicro: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the ladder is an aggregate-contracted frame (≤ a few rows), so
    // the unpartitioned windows here never see corpus cardinality
    val ok = (col("mean_recall_micro") >= targetRecallMicro).cast("long")
    val w = Window.orderBy(
      col("ok").desc,
      when(col("ok") === 1L, col("compression_x")).otherwise(lit(-1L)).desc,
      col("mean_recall_micro").desc, col("tier"))
    ladder.withColumn("ok", ok)
      .withColumn("n_tiers", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_qualifying", sum(col("ok")).over(
        Window.partitionBy(lit(1))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("tier").as("chosen_tier"), col("compression_x"),
        col("mean_recall_micro"), lit(targetRecallMicro).as("target_micro"),
        col("n_tiers"), col("n_qualifying"))
  }

  /** Sample-representativeness gate: how well a SAMPLE covers the
    * corpus's embedding-space structure, measured over the
    * deterministic IVF cells — the check a curation run does before
    * trusting a subsample (for eval, for codebook training, for
    * quality audits): a sample can match the corpus size-wise and
    * still miss whole regions. Emits one row: (n_cells,
    * n_covered_cells, coverage_micro — fraction of cells holding ≥1
    * sampled vector, tv_micro — total-variation distance between the
    * sample's and the corpus's cell-share distributions, 0 = perfectly
    * proportional, 1e6 = disjoint).
    *
    * Determinism: TV is computed from exact integer cross-products
    * (|s·N_c − c·N_s| summed as decimal, one final floor division) —
    * no per-cell floating shares to round.
    *
    * Scale: one cell assignment + two ≤nCentroids contractions; the
    * TV arithmetic runs on the cells frame. */
  def sampleCoverageStats(emb: DataFrame, samplePred: Column,
                          nCentroids: Int = 16,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(emb, nCentroids, 1, idCol, vecCol)
      .join(emb.select(col(idCol).as("id"), samplePred.cast("long").as("in_sample")),
        Seq("id"))
    val cells = assigned.groupBy(col("centroid_id")).agg(
      count(lit(1)).as("c_n"),
      sum(col("in_sample")).as("s_n"))
    val tot = cells.agg(sum(col("c_n")).as("nc"), sum(col("s_n")).as("ns"))
    cells.crossJoin(broadcast(tot))
      .agg(
        count(lit(1)).as("n_cells"),
        sum((col("s_n") > 0).cast("long")).as("n_covered_cells"),
        sum(abs(col("s_n").cast("decimal(38,0)") * col("nc")
          - col("c_n").cast("decimal(38,0)") * col("ns"))).as("_tvnum"),
        min(col("nc")).as("_nc"), min(col("ns")).as("_ns"))
      .select(col("n_cells"), col("n_covered_cells"),
        expr("n_covered_cells * 1000000 div n_cells").as("coverage_micro"),
        // an EMPTY sample yields tvnum = 0 with ns = 0: guard the
        // division — tv reads 0 but coverage_micro = 0 is the alarm
        expr("CAST(_tvnum * 1000000 div (2 * _nc * greatest(_ns, 1)) AS BIGINT)")
          .as("tv_micro"))
  }

  /** kNN-classifier gate: leave-one-out majority-vote accuracy of the
    * label column under blocked kNN — the standard embedding-quality
    * probe (a representation is as good as its neighborhoods; kNN
    * accuracy is the cheapest label-aware measure of that, the
    * linear-probe's non-parametric sibling). Each vector's k blocked
    * neighbors ([[knnWithinBlocks]] — bucket equi-joins, never
    * corpus²) vote by count, ties to the SMALLEST label (fixed,
    * replayable); a vector with no co-bucketed neighbor abstains and
    * is excluded from its label's denominator. Emits per-class rows
    * (label, n_voted, n_correct, acc_micro) ordered by label — the
    * per-class breakdown is the point: aggregate accuracy hides a
    * collapsed minority class.
    *
    * Scale: the vote is a (id, neighbor-label) count over the n·k
    * kNN frame, keyed on corpus-cardinality ids; the final contraction
    * is ≤|labels| rows. */
  def knnLabelVoteStats(emb: DataFrame, k: Int = 5,
                        nCentroids: Int = 16, nAssign: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame =
    knnLabelVoteStatsFromKnn(
      knnWithinBlocks(emb, k, nCentroids, nAssign, idCol, vecCol),
      emb.select(col(idCol), col(labelCol)), idCol, labelCol)

  /** [[knnLabelVoteStats]] over a PREBUILT kNN frame (id, nid, …) —
    * the shared-graph seam: the blocked candidate generation dominates
    * all three kNN consumers (measured 64–145 s each at the 20× probe
    * vs 2–7 s tails), so a deployment materializes the graph once and
    * feeds [[mutualKnnPairsFromKnn]] / [[hubnessStatsFromKnn]] / this
    * from the same frame. */
  def knnLabelVoteStatsFromKnn(knn: DataFrame, labeled: DataFrame,
                               idCol: String = "vec_id",
                               labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = labeled.select(col(idCol).as("_lid"),
      col(labelCol).cast("long").as("_lbl"))
    val votes = knn.join(labels, col("nid") === col("_lid"))
      .groupBy(col("id"), col("_lbl"))
      .agg(count(lit(1)).as("_votes"))
    val wVote = Window.partitionBy(col("id"))
      .orderBy(col("_votes").desc, col("_lbl"))
    val predicted = votes.withColumn("_rk", row_number().over(wVote))
      .filter(col("_rk") === 1)
      .select(col("id"), col("_lbl").as("_pred"))
    predicted.join(labels, col("id") === col("_lid"))
      .groupBy(col("_lbl").as("label"))
      .agg(count(lit(1)).as("n_voted"),
        sum((col("_pred") === col("_lbl")).cast("long")).as("n_correct"))
      .select(col("label"), col("n_voted"), col("n_correct"),
        expr("n_correct * 1000000 div n_voted").as("acc_micro"))
      .orderBy(col("label"))
  }

  /** Near-dup threshold operating curve — pair count and affected-doc
    * count at each candidate cosine threshold, ONE gate row per
    * operating point (the [[nearDupPairsBlocked]] tuning table: too
    * low drowns curation in false merges, too high leaves duplicate
    * clusters intact; the knee is corpus-specific and must be
    * MEASURED — the q211/q215 sweep standard applied to the dedup
    * dial). `monotone_ok` pins the nesting theorem: surviving pair
    * sets nest as the threshold rises, so both counts are
    * non-increasing — a red flag means the pair frame broke, not
    * noise.
    *
    * Scale: ONE blocked pair pass ([[ivfAssign]] equi-join, never
    * corpus²), pinned; each operating point is a filter + two
    * contractions over the skinny pair frame. The points come back as
    * a local relation and the pinned frames are released
    * ([[Dedup.finishLocal]]). */
  def nearDupThresholdSweep(emb: DataFrame, thresholdsMicro: Seq[Long],
                            nCentroids: Int = 16, nAssign: Int = 2,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholdsMicro.nonEmpty &&
      thresholdsMicro == thresholdsMicro.sorted &&
      thresholdsMicro.distinct == thresholdsMicro,
      "thresholdsMicro must be distinct and ascending")
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("va"), col("b.id").as("vb"),
        floor(round(sim, 6) * 1e6 + lit(0.5)).cast("long").as("s"))
      .distinct()
      .localCheckpoint(true)
    Dedup.release(assigned)
    val points = thresholdsMicro.map { t =>
      val surv = pairs.filter(col("s") >= t)
      val np = surv.agg(count(lit(1)).as("n_pairs"))
      val nd = surv.select(explode(array(col("va"), col("vb"))).as("d"))
        .agg(countDistinct(col("d")).as("n_docs_affected"))
      np.crossJoin(nd)
        .select(lit(t).as("threshold_micro"), col("n_pairs"),
          col("n_docs_affected"))
    }.reduce(_.unionAll(_))
    // the nesting check runs over the |thresholds|-row union of
    // aggregates — bounded by construction
    val w = Window.orderBy(col("threshold_micro"))
    val sweep = points
      // BOTH columns the scaladoc claims non-increasing are pinned:
      // pairs nest (a pair at t survives every t' < t) and so do the
      // affected-doc sets — a flag on n_pairs alone would not trip on
      // a broken n_docs_affected column
      .withColumn("monotone_ok",
        ((col("n_pairs") <= coalesce(lag(col("n_pairs"), 1).over(w),
          col("n_pairs"))) &&
         (col("n_docs_affected") <=
           coalesce(lag(col("n_docs_affected"), 1).over(w),
             col("n_docs_affected")))).cast("long"))
      .orderBy(col("threshold_micro"))
    Dedup.finishLocal(sweep, emb)
  }

  /** Vector-norm health histogram — the pre-index sanity gate every
    * vector deployment runs before cosine/IP search: zero vectors
    * (cosine undefined — served as 0 by convention, but they pollute
    * every candidate list) and norm-magnitude outliers (inner-product
    * search is dominated by them; a mis-scaled ingest batch shows up
    * as a displaced magnitude bucket). Buckets the PINNED squared norm
    * (na = Σ micro², exact BIGINT via [[microVec]]/[[dotLong]]) by its
    * DECIMAL DIGIT COUNT — an exact integer bucket key in any engine
    * (string length of the integer), immune to the log-boundary ulp
    * flips a float log2 bucket would risk. Zero vectors get bucket 0.
    * Emits one row per occupied bucket: (na_digits, n_vecs, min_na,
    * max_na, share_micro) ordered by bucket.
    *
    * Scale: ONE corpus pass — the pinned dot is a codegen'd
    * dim-length loop per row — into a ≤20-bucket hash aggregate
    * (map-side combined); the grand total is a window sum over the
    * ≤20-row GROUPED frame (not a second corpus scan — the r14 shape
    * fed the ungrouped frame to a separate count, executing the micro
    * dot over the corpus twice). */
  def vectorNormHealthStats(emb: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val na = dotLong(microVec(col(vecCol)), microVec(col(vecCol)))
    val bucketed = emb
      .select(na.as("na"))
      .select(col("na"),
        when(col("na") === 0L, 0L)
          .otherwise(length(col("na").cast("string")).cast("long"))
          .as("na_digits"))
    bucketed.groupBy(col("na_digits"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("na")).as("min_na"), max(col("na")).as("max_na"))
      .withColumn("_n",
        sum(col("n_vecs")).over(Window.partitionBy(lit(1))))
      .select(col("na_digits"), col("n_vecs"), col("min_na"),
        col("max_na"),
        expr("n_vecs * 1000000 div greatest(_n, 1)").as("share_micro"))
      .orderBy(col("na_digits"))
  }

  /** Operating-point advisor over a measured [[nearDupThresholdSweep]]
    * frame — the DECISION the sweep exists to inform (the
    * [[indexTierAdvisor]] pattern on the dedup dial): every candidate
    * pair costs downstream verification, so the budget caps how
    * aggressive dedup can afford to be. Among thresholds whose
    * measured n_pairs fits `maxPairsBudget`, take the SMALLEST (the
    * most aggressive dedup the verify budget allows — pairs nest, so
    * smaller thresholds strictly dominate on recall); if none fit,
    * fall back to the fewest-pairs point (degraded mode must still
    * pick something; n_qualifying = 0 is the alarm). Emits one row:
    * (chosen_threshold_micro, n_pairs, n_docs_affected, budget_pairs,
    * n_candidates, n_qualifying).
    *
    * Scale: arithmetic over the ≤|thresholds| sweep frame; the
    * measurement cost lives in the sweep. */
  def nearDupThresholdAdvisor(sweep: DataFrame,
                              maxPairsBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ok = (col("n_pairs") <= maxPairsBudget).cast("long")
    // qualifying points rank by threshold ASC; non-qualifying by
    // n_pairs ASC (closest to budget first), threshold as tie-break
    val w = Window.orderBy(col("ok").desc,
      when(col("ok") === 1L, col("threshold_micro"))
        .otherwise(col("n_pairs")).asc,
      col("threshold_micro").asc)
    sweep.withColumn("ok", ok)
      .withColumn("n_candidates", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_qualifying", sum(col("ok")).over(
        Window.partitionBy(lit(1))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("threshold_micro").as("chosen_threshold_micro"),
        col("n_pairs"), col("n_docs_affected"),
        lit(maxPairsBudget).as("budget_pairs"),
        col("n_candidates"), col("n_qualifying"))
  }

  /** Hubness profile of the kNN graph — which vectors appear in
    * other vectors' top-k lists far more often than the k-per-list
    * average (Radovanović et al. JMLR'10: hubs are an intrinsic
    * high-dimensional pathology; a hub absorbs its whole neighborhood
    * in dedup verification — the failure [[mutualKnnPairs]] filters —
    * and silently dominates kNN votes and retrieval lists). Counts
    * each vector's occurrences across all blocked-kNN lists
    * ([[knnWithinBlocks]]) and emits the top `topN` hubs:
    * (hub_rank, vec_id, n_occ, occ_share_micro) where occ_share is
    * the vector's share of ALL list slots — under no hubness every
    * vector sits near k/n of the slots.
    *
    * Scale: one count contraction over the n·k kNN frame keyed on
    * corpus-cardinality neighbor ids; only the ≤topN tail is
    * collected into the ranking window (TakeOrderedAndProject-sized,
    * applied to an aggregate contraction). */
  def hubnessStats(emb: DataFrame, k: Int = 5, topN: Int = 10,
                   nCentroids: Int = 16, nAssign: Int = 2,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    hubnessStatsFromKnn(
      knnWithinBlocks(emb, k, nCentroids, nAssign, idCol, vecCol)
        .localCheckpoint(true),
      topN, idCol)

  /** [[hubnessStats]] over a PREBUILT kNN frame — the shared-graph
    * seam (see [[knnLabelVoteStatsFromKnn]]). Callers passing an
    * unpinned frame should checkpoint it: both the slot count and the
    * occurrence aggregate consume it. */
  def hubnessStatsFromKnn(knn: DataFrame, topN: Int = 10,
                          idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // total slots IN-PLAN (1-row broadcast scalar attach, the
    // pqRetrainBenefitStats pattern) rather than an eager knn.count()
    // at composition time: the eager count ran the expensive blocked
    // candidate generation a second time whenever the caller forgot
    // to checkpoint — nothing enforced the scaladoc's advice
    val tot = knn.agg(count(lit(1)).as("_slots")).limit(1)
    val occ = knn.groupBy(col("nid")).agg(count(lit(1)).as("n_occ"))
    val w = Window.orderBy(col("n_occ").desc, col("nid"))
    occ.withColumn("hub_rank", row_number().over(w).cast("long"))
      .filter(col("hub_rank") <= topN)
      .crossJoin(broadcast(tot))
      .select(col("hub_rank"), col("nid").as(idCol), col("n_occ"),
        expr("n_occ * 1000000 div greatest(_slots, 1)")
          .as("occ_share_micro"))
      .orderBy(col("hub_rank"))
  }

  /** Effective dimensionality of an embedding column — the
    * participation ratio PR = (Σ σ²_d)² / Σ (σ²_d)² over per-dimension
    * variances, in [1, dims]: the embedding-health gate that catches
    * representation collapse (a few dims carrying all variance ⇒
    * PR ≪ dims ⇒ PQ subspaces starve and cosine loses resolution —
    * the measurement behind q212's isotropy observation, as one
    * number). Diagonal approximation by design: the full-covariance
    * spectrum needs the dim² moment matrix (q212's machinery); the
    * diagonal PR is the cheap first gate.
    *
    * Determinism: elements micro-quantized before aggregation
    * (integer/decimal moment sums — order-free); per-dim variance
    * numerators v_d = n·Σx² − (Σx)² are EXACT decimals, then scaled
    * to v_d/10⁹ integer units before the square/sum so (Σv')²·10⁶
    * stays inside 128-bit arithmetic in BOTH engines (decimal(38) /
    * HUGEINT) — the documented coarser-quantization remedy family.
    * Emits (n_dims, n_vecs, eff_dim_micro, max_var_share_micro) —
    * the max single-dim variance share is the collapse-direction
    * companion reading. */
  def effectiveDimStats(emb: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(posexplode(asDouble(col(vecCol))))
      .select(col("pos").as("dim"),
        floor(col("col") * 1e6 + lit(0.5)).cast("long").as("q"))
    val perDim = base.groupBy(col("dim")).agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("s2"))
      .select(col("dim"), col("n"),
        (col("s2") * col("n") - col("s1").cast("decimal(38,0)")
          * col("s1")).as("v"))
      // scale to 10⁹ units: keeps squares inside 128-bit on both
      // engines; ~7 significant digits survive at this corpus scale
      .select(col("dim"), col("n"),
        expr("CAST(v div 1000000000 AS DECIMAL(38,0))").as("vs"))
    perDim.agg(
        count(lit(1)).as("n_dims"),
        min(col("n")).as("n_vecs"),
        sum(col("vs")).as("_sv"),
        sum(col("vs") * col("vs")).as("_svv"),
        max(col("vs")).as("_mx"))
      .select(col("n_dims"), col("n_vecs"),
        expr("CAST((_sv * _sv) * 1000000 div _svv AS BIGINT)")
          .as("eff_dim_micro"),
        expr("CAST(_mx * 1000000 div _sv AS BIGINT)")
          .as("max_var_share_micro"))
  }

  /** IVF hot-cell split — the index-maintenance action
    * [[ivfCellStats]]'s imbalance measurement exists to trigger (a
    * cell holding 10× its share makes every probe of it 10× the scan;
    * FAISS handles this offline by retraining — splitting ONLY the
    * hot cells is the cheap online alternative that leaves every cold
    * cell's assignment, and therefore its stored codes, untouched):
    * every cell whose corpus share exceeds `maxShareMicro` is split
    * in two — sub-seeds are the cell's two smallest member ids (the
    * deterministic seed-election convention), members re-assigned to
    * their 6-dp-argmax sub-seed (ties to the smaller seed id).
    *
    * Emits the post-split layout (parent_cell, new_cell, n,
    * share_micro, split) ordered by (parent, new) — new_cell is the
    * chosen sub-seed's global id (cold cells keep new_cell =
    * parent_cell), so the output is directly a serveable assignment
    * table in the same id-space the probes use.
    *
    * Scale: one assignment pass, one ≤nCentroids share contraction,
    * and a ×2-bounded equi-join of HOT members against their cell's
    * seed pair — cold cells never move. The per-member argmax keys on
    * corpus-cardinality ids; no funnels. */
  def hotCellSplit(emb: DataFrame, nCentroids: Int = 16,
                   maxShareMicro: Long = 100000L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(emb, nCentroids, 1, idCol, vecCol)
      .localCheckpoint(true)
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_N"))
    val hot = counts.crossJoin(broadcast(total))
      .filter(expr("n * 1000000 div _N") > maxShareMicro)
      .select(col("centroid_id"))
      .localCheckpoint(true)
    val wSeed = Window.partitionBy(col("centroid_id")).orderBy(col("id"))
    val seeds = assigned.join(hot, Seq("centroid_id"), "left_semi")
      .withColumn("_srk", row_number().over(wSeed))
      .filter(col("_srk") <= 2)
      .select(col("centroid_id"), col("id").as("seed_id"),
        col("v").as("sv"), col("nrm").as("sn"))
    val denom = col("nrm") * col("sn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("v"), col("sv")) / denom)
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("_s").desc, col("seed_id"))
    val splitMembers = assigned.join(hot, Seq("centroid_id"), "left_semi")
      .join(seeds, Seq("centroid_id"))
      .withColumn("_s", round(sim, 6))
      .withColumn("_rk", row_number().over(wAssign))
      .filter(col("_rk") === 1)
      .select(col("centroid_id").as("parent_cell"),
        col("seed_id").as("new_cell"), col("id"))
    val coldMembers = assigned.join(hot, Seq("centroid_id"), "left_anti")
      .select(col("centroid_id").as("parent_cell"),
        col("centroid_id").as("new_cell"), col("id"))
    splitMembers.unionAll(coldMembers)
      .groupBy(col("parent_cell"), col("new_cell"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("parent_cell"), col("new_cell"), col("n"),
        expr("n * 1000000 div _N").as("share_micro"),
        (col("parent_cell") =!= col("new_cell") ||
          count(lit(1)).over(Window.partitionBy(col("parent_cell"))) > 1)
          .cast("long").as("split"))
      .orderBy(col("parent_cell"), col("new_cell"))
  }

  /** Retrain-benefit gate — the measured consequence of the ACTION the
    * drift gate's trip decides ([[pqDriftStats]] measures, this
    * answers "was retraining worth it"): whole-corpus mean ADC
    * reconstruction error of the GROWN index (frozen codebooks +
    * delta adds) vs a RETRAINED index (codebooks trained on the full
    * current corpus), as ONE reduce-order-free integer row. On a
    * same-distribution delta the two sit close (the drift gate
    * agreeing it needn't trip); after real drift the retrained error
    * drops — both cases are measured states, so `retrain_improves` is
    * computed on both sides rather than pinned. Emits (n_vecs,
    * sum_err_grown, sum_err_retrained, mean_err_grown,
    * mean_err_retrained, retrain_improves); sums accumulate
    * decimal(38,0) internally but emit BIGINT, means exact integer
    * division (the [[pqDriftStats]] conventions).
    *
    * Scale: two [[pqDriftStats]] passes (one per index — each one
    * corpus pass with a skinny codes equi-join); at deployment both
    * indexes are stored artifacts, so nothing here trains. */
  def pqRetrainBenefitStats(grown: PqIndex, retrained: PqIndex,
                            vectors: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    // the constant cohort makes each drift frame one row semantically;
    // limit(1) makes that PROVABLE (maxRows=1) so the scalar-attach
    // join below satisfies the plan gate rather than reading as an
    // unbounded nested loop (a grouped aggregate has unknown maxRows)
    val g = pqDriftStats(grown, vectors, lit("all"), idCol, vecCol)
      .select(col("n_vecs"), col("sum_err").as("sum_err_grown"),
        col("mean_err").as("mean_err_grown"))
      .limit(1)
    val r = pqDriftStats(retrained, vectors, lit("all"), idCol, vecCol)
      .select(col("sum_err").as("sum_err_retrained"),
        col("mean_err").as("mean_err_retrained"))
      .limit(1)
    // 1-row × 1-row broadcast scalar attachment
    g.join(broadcast(r), lit(true))
      .select(col("n_vecs"), col("sum_err_grown"),
        col("sum_err_retrained"), col("mean_err_grown"),
        col("mean_err_retrained"),
        (col("mean_err_retrained") <= col("mean_err_grown"))
          .cast("long").as("retrain_improves"))
  }

  /** IVF list-size balance audit — the hot-cell diagnostic every IVF
    * deployment reads next to the recall sweep ([[ivfRecallSweep]]):
    * per-cell member counts, corpus share, and the global imbalance
    * factor max/mean (1e6 = perfectly balanced). A hot cell is scanned
    * by every query that probes it, so imbalance IS the tail-latency
    * profile of the index; past the bound, re-seed (k-means instead of
    * smallest-id seeds) or split the cell (two-level IVF).
    * Emits one row per non-empty cell: (centroid_id, n_vecs,
    * share_micro, imbalance_micro, balance_ok) — the last two are
    * whole-index constants riding on each row (the q212 convention).
    *
    * Determinism: pure integer counts and exact integer division.
    * `imbalance ≤ 4×` is the pinned green bound for this corpus's
    * smallest-id seeding; the decimal(38,0) numerator keeps
    * max·cells·10⁶ exact at any corpus size (a long overflows past
    * ~9·10¹² in the product). The mean divides by the CONFIGURED cell
    * count (min(nCentroids, corpus) — the seed-frame size), not the
    * non-empty count: a corpus funneled into one of 16 cells is the
    * worst imbalance there is, and counting only non-empty cells
    * would read it as perfectly balanced (found by the 30× replicated
    * probe, whose near-identical vectors all elect one cell).
    *
    * Scale: one [[ivfAssign]] pass + a ≤ nCentroids-row aggregate;
    * the whole-frame window is SAFE ONLY over that contraction (the
    * featureRerank allowlist shape). */
  def ivfCellStats(emb: DataFrame, nCentroids: Int,
                   maxImbalanceMicro: Long = 4000000L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = ivfAssign(emb, nCentroids, 1, idCol, vecCol)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"))
    val w = Window.partitionBy()
    cells.select(col("centroid_id"), col("n_vecs"),
        sum(col("n_vecs")).over(w).as("_tot"),
        max(col("n_vecs")).over(w).as("_mx"),
        least(lit(nCentroids.toLong),
          sum(col("n_vecs")).over(w)).as("_nc"))
      .select(col("centroid_id"), col("n_vecs"),
        expr("n_vecs * 1000000 div _tot").as("share_micro"),
        expr("CAST(CAST(_mx AS DECIMAL(38,0)) * _nc * 1000000 div _tot" +
          " AS BIGINT)").as("imbalance_micro"))
      .withColumn("balance_ok",
        (col("imbalance_micro") <= maxImbalanceMicro).cast("long"))
      .orderBy(col("centroid_id"))
  }

  /** Cell-ASSIGNMENT drift between two cohorts of an index — the
    * coarse-quantizer staleness signal that complements the code-level
    * drift gate ([[pqDriftStats]] measures how well the codebooks
    * still fit, on either index kind; this measures whether new data
    * still LANDS like the training data): PSI over the per-cell
    * assignment shares, reference = rows where `isCurrent` is false,
    * current = rows where it is true. A delta that concentrates in a
    * few cells shifts the share profile and pushes PSI up — time to
    * re-seed the coarse quantizer even if per-code error looks fine.
    * Rule of thumb (the [[graft.ext.Profiling.psiDrift]] scale):
    * < 0.1 stable, 0.1–0.25 moderate, > 0.25 investigate.
    *
    * Input: any assignment frame with a cell column (an index's
    * stored `cells`, or a fresh [[ivfAssign]] projection); `isCurrent`
    * is evaluated against it. Emits ONE row (n_ref, n_cur, n_cells,
    * n_scored_cells, psi_micro) — the psiDrift conventions verbatim:
    * exact integer counts, per-cell terms nano-quantized pre-sum, a
    * cell empty on either side contributes nothing but stays counted.
    *
    * Scale: one aggregate over the assignment frame to ≤ nCells rows,
    * then scalar math on the contraction — the shuffle is the
    * per-cell count rows only. */
  def ivfCellDriftStats(cells: DataFrame, isCurrent: Column,
                        cellCol: String = "c_id"): DataFrame = {
    val cnt = cells
      .select(col(cellCol).as("cell"), isCurrent.cast("boolean").as("cur"))
      .groupBy(col("cell"))
      .agg(sum(when(col("cur"), 0L).otherwise(1L)).as("r"),
        sum(when(col("cur"), 1L).otherwise(0L)).as("c"))
    val tot = cnt.agg(sum(col("r")).as("tr"), sum(col("c")).as("tc"))
    val p = col("r").cast("double") / col("tr")
    val q = col("c").cast("double") / col("tc")
    cnt.crossJoin(broadcast(tot))
      .select(col("r"), col("c"), col("tr"), col("tc"),
        when(col("r") > 0 && col("c") > 0,
          round((q - p) * log(q / p) * 1e9).cast("long"))
          .otherwise(lit(0L)).as("t_nano"),
        when(col("r") > 0 && col("c") > 0, 1L).otherwise(0L).as("scored"))
      .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
        count(lit(1)).as("n_cells"),
        sum(col("scored")).as("n_scored_cells"),
        round(sum(col("t_nano")) / 1e3).cast("long").as("psi_micro"))
  }

  /** SQ8 compressed top-k scan (the FAISS `IndexScalarQuantizer`
    * SQ8 family — the quantization point between the raw-float brute
    * scan and PQ codes): the corpus is symmetric-int8 quantized
    * ([[quantizeInt8]] — one scale + 64 one-byte codes per vector, 4×
    * less I/O than float32), queries stay exact, and ranking runs the
    * asymmetric distance — exact query against the dequantized
    * corpus (code × scale, exact IEEE arithmetic, so another engine
    * replays the reconstruction bit-for-bit). Recall loss is the
    * per-vector rounding alone — measure with [[recallStats]] against
    * [[bruteTopK]] (SQ8 sits near 1.0 where PQ's m-subspace codes
    * trade much deeper compression for recall).
    *
    * Determinism: codes/scales are [[quantizeInt8]]'s floor-based
    * exact convention; cosine rounds at 6 dp before ranking, ties on
    * the candidate id (the [[bruteTopK]] conventions).
    *
    * Scale: identical plan shape to [[bruteTopK]] (broadcast query
    * set, one corpus scan, per-query rank window) — the win is the
    * scan reading 1/4 the bytes when the quantized columns are the
    * stored form; compose with [[ivfAssign]] blocking for sub-linear
    * candidates exactly as [[ivfTopK]] does. The reconstructed
    * corpus is MATERIALIZED once before the join (eager checkpoint —
    * the deployment shape, where int8 codes are the stored table and
    * reconstruction happens once per serving session): the quantize +
    * dequantize chain is interpreted higher-order lambdas, and under
    * projection collapse an unmaterialized `cv` re-evaluates that
    * whole chain per REFERENCE per joined row — a 30× probe measured
    * the collapsed form at 354 s vs ~20 s materialized on 60k
    * vectors × 10 queries. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    sqTopK(corpus, queries, k, quantizeInt8(_, vecCol), idCol, vecCol)

  /** [[sq8TopK]] at 4-bit resolution ([[quantizeInt4]] — the FAISS
    * SQ4 point): half the stored bits, measurably more rounding loss
    * — gate with [[recallStats]] exactly like q206 gates SQ8. Same
    * plan shape, same conventions. */
  def sq4TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    sqTopK(corpus, queries, k, quantizeInt4(_, vecCol), idCol, vecCol)

  /** Shared scalar-quantized scan core: quantize + reconstruct the
    * corpus ONCE (eager checkpoint — the stored-form shape; see the
    * [[sq8TopK]] projection-collapse note), exact queries, asymmetric
    * 6-dp cosine, ties on cid. */
  private def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     quantizer: DataFrame => DataFrame,
                     idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val c = quantizer(corpus.select(col(idCol).as("cid"), col(vecCol)))
      .select(col("cid"),
        dequantize(col("q_codes"), col("q_scale")).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val q = queries.select(col(idCol).as("qid"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(sim, 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-dimension binarization thresholds for [[bqTopK]]: the
    * corpus element-wise mean on the 6-dp grid ([[graft.functions
    * .VectorMicroMean]] — reduce-order-free, so the trained
    * thresholds replay bit-identically across runs and engines). The
    * mean split is the standard zero-training binary-hash baseline
    * (sign binarization recentred for non-zero-centred embeddings —
    * this corpus is non-negative, so a raw sign bit would be
    * constant-1 and carry no information). Returns the dim-sized
    * driver model (the sanctioned bounded-model collect class). */
  def bqThresholds(corpus: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[Double] = {
    val rows = corpus
      .select(asDouble(col(vecCol)).as("v"))
      .agg(graft.functions.VectorAggregates.vector_micro_mean(col("v"))
        .as("mv"))
      .collect()
    if (rows.isEmpty || rows(0).isNullAt(0)) Array.emptyDoubleArray
    else rows(0).getSeq[Double](0).toArray
  }

  /** Pack one frame's vectors into binary codes against fixed
    * `thresholds`: bit_d = 1 iff x_d > t_d, 32 bits per BIGINT word
    * (LSB = lowest dim in the word — weights 2⁰…2³¹, far from the
    * sign bit, so ANSI arithmetic can never overflow the pack).
    * Emits (id, words: array<bigint>). The pack is exact integer
    * arithmetic — a DuckDB oracle replays it as
    * `sum(bit · 2^((i−1) % 32))` grouped by `(i−1) // 32`. */
  def bqPack(emb: DataFrame, thresholds: Array[Double],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val nWords = (thresholds.length + 31) / 32
    val weights = Array.tabulate(32)(j => 1L << j)
    val bits = zip_with(asDouble(col(vecCol)), lit(thresholds),
      (x, t) => when(x > t, 1L).otherwise(0L))
    emb.select(col(idCol).as("id"), bits.as("bits"))
      .select(col("id"),
        transform(sequence(lit(0), lit(nWords - 1)), w =>
          aggregate(
            zip_with(slice(col("bits"), w * 32 + 1, lit(32)),
              lit(weights), (b, wt) => b * wt),
            lit(0L), (acc, x) => acc + coalesce(x, lit(0L))))
          .as("words"))
  }

  /** Binary-quantization top-k — the 32× rung of the quantization
    * ladder (1 bit per float32 dim), the cheapest candidate generator
    * in the compression family (FAISS `IndexBinaryFlat` shape):
    * corpus and queries binarize against the SAME corpus-trained
    * per-dim mean thresholds ([[bqThresholds]]), and candidates rank
    * by Hamming distance — XOR + popcount per 32-bit word, the two
    * cheapest instructions a scan can execute, over a stored form 32×
    * smaller than the floats. Recall at this compression is LOW by
    * construction (Hamming over mean bits is a coarse proxy); the
    * deployment is ALWAYS two-stage — a deep binary shortlist handed
    * to [[refineTopK]] ([[bqRefineUpliftStats]] measures exactly that
    * dial, the q210 pattern).
    *
    * Determinism: thresholds on the 6-dp grid via the order-free
    * micro mean; the pack and the Hamming sums are exact integers;
    * ranking ties break on cid (Hamming over 64 dims is tie-dense —
    * the tie-break is load-bearing, not cosmetic).
    *
    * Scale: the packed corpus is the STORED form (eagerly pinned —
    * one build, every batch scans it); per pair the work is nWords
    * XOR+popcounts; ranking is the [[bruteTopK]] broadcast-query
    * window (by-definition linear scan over a 32×-smaller table; cell
    * blocking composes exactly as [[ivfSq8TopK]] if sub-linear is
    * needed). Emits (qid, cid, hamming, rank). */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val thr = bqThresholds(corpus, idCol, vecCol)
    val c = bqPack(corpus, thr, idCol, vecCol)
      .select(col("id").as("cid"), col("words").as("cw"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val q = bqPack(queries, thr, idCol, vecCol)
      .select(col("id").as("qid"), col("words").as("qw"))
    val hamming = aggregate(
      zip_with(col("qw"), col("cw"),
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), hamming.as("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** [[refineUpliftStats]] with the BINARY scan as the first stage —
    * the measured form of "binary codes are a candidate generator,
    * not a ranker": Hamming shortlist at depth `r`, exact cosine
    * refine to `k`, refined-vs-unrefined recall against the brute
    * yardstick in ONE reduce-order-free integer row. Refined ≥
    * unrefined is the q210 theorem (a true top-k member of the
    * shortlist always survives exact re-ranking), so the flag reds on
    * convention drift; the refined NUMBER is the dial a deployment
    * reads to size `r`. */
  def bqRefineUpliftStats(corpus: DataFrame, queries: DataFrame,
                          k: Int, r: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"shortlist depth r=$r must be >= k=$k")
    val shortlist = bqTopK(corpus, queries, r, idCol, vecCol)
      .localCheckpoint(true)
    refineUpliftFromShortlist(corpus, queries, shortlist, k,
      idCol, vecCol)
  }

  /** PC1-guided subspace allocation — the trainable-without-a-rotation
    * 80% of OPQ (Ge et al., CVPR 2013: OPQ's gain splits into subspace
    * ALLOCATION and within-subspace rotation; only the allocation is
    * expressible as a permutation, which keeps the whole trajectory
    * deterministic and oracle-replayable — a trained dense rotation is
    * not, which is why the r12 probe closed that half as
    * not-shippable). Dims are ranked by |PC1 loading| (the
    * [[pc1PowerIteration]] exact-integer diagnostic) and DEALT
    * round-robin across the `m` subspaces, so the corpus's dominant
    * direction spreads over every codebook instead of concentrating
    * its variance in one or two: each codebook then quantizes an
    * equal share of the signal. Measured on this corpus (sf0.01,
    * 16×32 budget): plain contiguous slicing recall@5 0.42,
    * variance-balanced 0.46, PC1-guided 0.50 — while two RANDOM
    * signed permutations measured 0.32/0.36, i.e. the gain is the
    * data-derived allocation, not mixing per se.
    *
    * Returns perm where permuted position p reads source dim
    * perm(p): rank r sits at subspace r % m, slot r / m. Ties in
    * |loading| break on dim (the library convention). A dim-sized
    * driver model (the sanctioned bounded-collect class). */
  def pc1SubspacePermutation(emb: DataFrame, m: Int, dsub: Int,
                             pc1Iters: Int = 3,
                             vecCol: String = "embedding"): Array[Int] = {
    val ranked = pc1PowerIteration(emb, pc1Iters, vecCol).collect()
      .sortBy(r => (-math.abs(r.getLong(1)), r.getLong(0)))
      .map(_.getLong(0).toInt)
    require(ranked.length == m * dsub,
      s"pc1 dim count ${ranked.length} != m*dsub = ${m * dsub}")
    (0 until m).flatMap(s =>
      (0 until dsub).map(r => ranked(r * m + s))).toArray
  }

  /** Project a frame's vectors through a fixed dim permutation —
    * a 64-element array constructor per row (codegen, no HOF). */
  def applyPermutation(emb: DataFrame, perm: Array[Int],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val pv = array(perm.toIndexedSeq.map(src =>
      element_at(asDouble(col(vecCol)), src + 1)): _*)
    emb.select(col(idCol), pv.as(vecCol))
  }

  /** Permuted-vs-plain PQ recall at EQUAL code budget, against the
    * exact cosine yardstick, as ONE reduce-order-free integer row —
    * the measured form of [[pc1SubspacePermutation]]'s claim (the
    * [[residualUpliftStats]] shape: same geometry both sides, so any
    * difference is purely the subspace allocation). Cosine is
    * permutation-invariant, so the raw-space brute top-k scores the
    * permuted-space index directly. `perm_ge_plain` is MEASURED state
    * (expected 1 on this corpus), not a theorem — a distribution with
    * no dominant direction can tie. Emits (n_q, sum_hits_perm,
    * sum_hits_plain, mean_recall_perm_micro, mean_recall_plain_micro,
    * perm_ge_plain).
    *
    * Scale: two [[pqBuild]]+ADC passes and one PC1 pass (the scatter
    * contraction is O(partitions·dim²) — row-count-free); at
    * deployment both indexes are stored artifacts and only the scans
    * run. */
  def permutedPqUpliftStats(corpus: DataFrame, queries: DataFrame,
                            k: Int, m: Int = 8, dsub: Int = 8,
                            kCodes: Int = 8, iters: Int = 1,
                            pc1Iters: Int = 3,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    // the three branches (exact yardstick, plain ladder, PC1 pass +
    // permuted ladder) are independent experiment arms whose internal
    // checkpoint actions otherwise serialize — overlap them (Par §2.6);
    // each arm's plan, trajectory and result are unchanged
    val (exact, plainTopK, permedTopK) = graft.Par.sections3(
      bruteTopK(corpus, queries, k, idCol, vecCol)
        .localCheckpoint(true),
      pqAdcTopK(corpus, queries, k, m, dsub, kCodes, iters,
        idCol, vecCol),
      {
        val perm = pc1SubspacePermutation(corpus, m, dsub, pc1Iters, vecCol)
        pqAdcTopK(applyPermutation(corpus, perm, idCol, vecCol),
          applyPermutation(queries, perm, idCol, vecCol),
          k, m, dsub, kCodes, iters, idCol, vecCol)
      })
    val plain = recallAtK(exact, plainTopK)
    val permed = recallAtK(exact, permedTopK)
    permed.select(col("qid"), col("n_hits").as("hp"))
      .join(plain.select(col("qid"), col("n_hits").as("hl")), Seq("qid"))
      .agg(count(lit(1)).as("n_q"),
        sum(col("hp")).as("sum_hits_perm"),
        sum(col("hl")).as("sum_hits_plain"))
      .select(col("n_q"), col("sum_hits_perm"), col("sum_hits_plain"),
        expr(s"sum_hits_perm * 1000000 div (n_q * $k)")
          .as("mean_recall_perm_micro"),
        expr(s"sum_hits_plain * 1000000 div (n_q * $k)")
          .as("mean_recall_plain_micro"),
        (col("sum_hits_perm") >= col("sum_hits_plain")).cast("long")
          .as("perm_ge_plain"))
  }

  /** IVF-blocked SQ8 top-k (the FAISS `IndexIVFScalarQuantizer`
    * shape) — [[ivfTopK]]'s sub-linear candidate generation composed
    * with [[sq8TopK]]'s compressed scoring: queries rank ONLY the
    * vectors in their `nProbe` nearest cells, by the asymmetric
    * cosine against the int8 reconstruction. The flat SQ8 scan is
    * still O(n) per query; this is its 100 TB path — candidates are
    * nProbe/nCentroids of the corpus, scored off a 4×-smaller stored
    * form. Recall loss = cell truncation (q186's measured mode) ×
    * SQ8's near-zero rounding loss; measure with [[recallStats]]
    * against [[bruteTopK]].
    *
    * Determinism: cell assignment and probe choice replay
    * [[ivfTopK]]'s conventions; reconstruction and ranking replay
    * [[sq8TopK]]'s. Scale: the candidate join is an equi-join on
    * centroid_id (bucket-bounded shuffle), the reconstructed frame
    * joins candidates on id (equi), ranking windows key on qid —
    * never an all-pairs product. */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCentroids: Int = 16, nProbe: Int = 4,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val cells = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
      .select(col("id"), col("centroid_id"))
    val probes = ivfProbes(corpus, queries, nCentroids, nProbe,
      idCol, vecCol)
    val c = quantizeInt8(
        corpus.select(col(idCol).as("cid"), col(vecCol)), vecCol)
      .select(col("cid"),
        dequantize(col("q_codes"), col("q_scale")).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val cand = cells.join(broadcast(probes), Seq("centroid_id"))
      .select(col("qid"), col("qv"), col("qn"), col("id"))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    cand.join(c, col("id") === col("cid"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(sim, 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  private def requireFlat(index: PqIndex, op: String): Unit =
    require(index.ivf.isEmpty,
      s"$op needs a flat PQ index (from pqBuild); this one is IVF " +
        "(residual codes)")

  /** Flat ADC ranking tail over a prebuilt flat [[PqIndex]] — the
    * compressed linear scan of [[pqAdcTopK]] minus the build. */
  def pqAdcSearch(index: PqIndex, queries: DataFrame, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFlat(index, "pqAdcSearch")
    val codes = index.codes
    val lut = pqLut(queries, index.cents, index.m, index.dsub,
      idCol, vecCol)
    val adist = codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("c_id"))
      .filter(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id").as("cid"))
      .agg(sum(col("dm")).as("adist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("cid"))
    adist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-blocked ADC ranking tail over a prebuilt flat [[PqIndex]]
    * (the FAISS `IndexIVFPQ` shape, Jégou et al. TPAMI 2011 §V, minus
    * residual encoding — raw-vector codes serve both the flat and the
    * blocked scan; the residual path is an IVF index searched by
    * [[residualPqSearch]]): cell filter first (id→cell contraction vs
    * the broadcast probe list, so unprobed cells never produce code
    * rows), then the ×m code expansion, then the map-side-collapsed
    * LUT sums. `corpus` is consulted only for cell assignment and
    * probe choice, which replay [[ivfTopK]]'s 6-dp cosine with
    * smallest-centroid-id ties; ranking ties on candidate id. Recall
    * loss vs the flat scan is cell-boundary truncation —
    * [[pqAdcBlockingRecall]] measures it. */
  def ivfPqSearch(index: PqIndex, corpus: DataFrame, queries: DataFrame,
                  k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFlat(index, "ivfPqSearch")
    val cells = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
      .select(col("id"), col("centroid_id"))
    val probes = ivfProbes(corpus, queries, nCentroids, nProbe,
        idCol, vecCol)
      .select(col("qid"), col("centroid_id"))
    val lut = pqLut(queries, index.cents, index.m, index.dsub,
        idCol, vecCol)
      .select(col("qid").as("lqid"), col("sub").as("lsub"),
        col("c_id").as("lcode"), col("dm"))
    val cand = cells.join(broadcast(probes), Seq("centroid_id"))
      .select(col("qid"), col("id"))
    val adist = index.codes.join(cand, Seq("id"))
      .join(broadcast(lut),
        col("qid") === col("lqid") && col("sub") === col("lsub") &&
          col("code") === col("lcode"))
      .filter(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id").as("cid"))
      .agg(sum(col("dm")).as("adist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("cid"))
    adist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Flat-PQ ADC top-k search (FAISS `IndexPQ` semantics, Jégou et al.
    * TPAMI 2011 §IV): vectors are PQ-encoded to `m` codes, and each
    * query ranks the corpus by an Asymmetric L2 Distance — the sum
    * over subspaces of a per-query lookup table ‖q_sub − codeword‖²,
    * computed once per (query, subspace, code) and never touching the
    * corpus floats again. On unit-norm embeddings (this corpus —
    * checked by the q178 gate against the cosine yardstick) L2 order
    * IS cosine order; unnormalized corpora get plain L2-NN, the
    * IndexPQ contract.
    *
    * Determinism: training replays [[pqEncode]]'s raw-vector
    * trajectory exactly; LUT entries are exact integer micro² squared
    * distances — every element is pinned to a BIGINT micro via
    * `floor(x·1e6 + 0.5)` (bit-identical across engines, the
    * `quantizeInt8` convention — a 6-dp `round` here flipped on
    * boundary values downstream of differently-accumulated norms)
    * before any arithmetic, so the per-pair m-term sum is order-free
    * across engines; ranking ties break on the candidate id.
    *
    * Scale: this is the compressed linear scan — the point at 100 TB
    * is that the scan reads m bytes per vector (32× less I/O than
    * 64-dim float32) and the per-pair cost is m integer adds off a
    * broadcast LUT (n_q·m·k rows — kilobytes), not a 64-dim float dot.
    * The ×m pre-aggregation rows collapse map-side (partial sum before
    * the exchange), so the shuffle is one skinny (qid, cid, adist) row
    * per surviving pair. For sub-linear candidate generation compose
    * with [[ivfAssign]] blocking exactly as [[ivfTopK]] does — ADC
    * then ranks cells' candidates instead of the full corpus. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = 8, dsub: Int = 8, kCodes: Int = 8,
                iters: Int = 1,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    pqAdcSearch(pqBuild(corpus, m, dsub, kCodes, iters, idCol, vecCol),
      queries, k, idCol, vecCol)

  /** Blocking-loss eval of [[ivfPqSearch]] against [[pqAdcSearch]]
    * over ONE prebuilt flat index — `recallAtK(flat, blocked)`,
    * matching the oracle, which shares one training replay across both
    * rankings. The result isolates CELL TRUNCATION loss: both rankings
    * use the same codes and LUT formulation (so a quantization change
    * can never desynchronize them), and any rank-k difference comes
    * from candidates outside the probed cells. Only the n_q·m·k-row
    * LUT is derived twice — kilobytes. */
  def pqAdcBlockingRecall(index: PqIndex, corpus: DataFrame,
                          queries: DataFrame, k: Int,
                          nCentroids: Int = 16, nProbe: Int = 4,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    recallAtK(
      pqAdcSearch(index, queries, k, idCol, vecCol),
      ivfPqSearch(index, corpus, queries, k, nCentroids, nProbe,
        idCol, vecCol))

  /** Train an IVF [[PqIndex]] ([[PqIvf]]): coarse-assign every vector to its
    * IVF cell ([[ivfAssign]] — 6-dp-rounded cosine argmax, smallest-id
    * ties), compute each cell's member mean (round 6 dp per dimension,
    * the k-means convention), subtract it element-wise (exact IEEE
    * double subtraction, replayable by any engine), then run the
    * standard PQ trajectory ([[pqCore]]: 6-dp L2 argmin/means,
    * empty-code carry) on the residual vectors. Seeds are the
    * residuals of the `kCodes` smallest-id vectors AFTER skipping the
    * first `nCentroids` ids — the skipped ids are the cell-naming
    * seeds whose residuals cluster near zero and would waste codebook
    * diversity.
    *
    * Scale: identical to [[pqBuild]] — the residual codebooks train on
    * the driver when the residual subvector frame fits
    * `spark.sql.autoBroadcastJoinThreshold` (one bounded fetch, see
    * [[pqCore]]), else distributed with the codes checkpointed — plus
    * the checkpointed coarse assignment, one nCentroids-row mean
    * aggregate (vector_micro_mean partial buffers are all that
    * shuffles) and a broadcast join of the recentring frame — never a
    * corpus shuffle; the residual subtraction is one zip_with per row,
    * the same construction-tier cost class as the subvector slicing. */
  def residualPqBuild(corpus: DataFrame, nCentroids: Int = 16,
                      m: Int = 8, dsub: Int = 8, kCodes: Int = 8,
                      iters: Int = 1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): PqIndex = {
    import org.apache.spark.storage.StorageLevel
    require(nCentroids > 0, "nCentroids must be positive")
    // (id, v, nrm, centroid_id) — consumed twice (means + residuals)
    val assigned = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val recenter = assigned.groupBy(col("centroid_id"))
      .agg(graft.functions.VectorAggregates.vector_micro_mean(col("v"))
        .as("mv"))
      .select(col("centroid_id").as("c_id"), col("mv"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val (codes, cents) = pqCore(recentre(assigned, recenter), m, dsub,
      kCodes, iters, seedOffset = nCentroids, pin = true)
    PqIndex(m, dsub, codes, cents,
      // the coarse seed frame rides in the index (nCentroids rows —
      // kilobytes) so serve/add never re-derive seeds from a corpus;
      // norms come from the SAME Spark expression the probe ranking
      // uses, so stored values are bit-identical to the transient path
      Some(PqIvf(nCentroids,
        seedCentroids(corpus, nCentroids, idCol, vecCol)
          .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER),
        recenter, assigned.select(col("id"), col("centroid_id")))))
  }

  /** Residual-ADC top-k over a prebuilt IVF [[PqIndex]] — the
    * [[ivfPqSearch]] plan with per-(query, cell) LUTs: for each of the
    * query's `nProbe` probed cells, the LUT quantizes the QUERY
    * RESIDUAL q − c(cell) against the residual codebooks (exact
    * integer micro² sums, the [[pqLut]] convention), and candidates in
    * that cell are ranked by the m-term LUT sum of their codes. The
    * LUT is n_q × nProbe × m × kCodes rows — still kilobytes,
    * broadcast. Cell filtering runs before the ×m code expansion
    * exactly as in [[ivfPqSearch]]; determinism (probe choice, argmin
    * ties, integer sums, rank ties on cid) is unchanged. Serves
    * ENTIRELY off the index (stored coarse seeds + cell assignment) —
    * the self-contained artifact shape, identical results to the old
    * recompute-from-corpus path for a fresh build, and the ONLY
    * correct path for a loaded or grown index (re-deriving seeds from
    * the grown corpus would elect different centroids). */
  def residualPqSearch(index: PqIndex,
                       queries: DataFrame, k: Int, nProbe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(index.ivf.isDefined,
      "residualPqSearch needs an IVF PQ index (from residualPqBuild); " +
        "this one is flat — search it with pqAdcSearch or ivfPqSearch")
    val ivf = index.ivf.get
    val cells = ivf.cells
    val probes = ivfProbesFrom(ivf.coarse, queries, nProbe,
      idCol, vecCol)
    // per-(query, probed cell) residual, sliced into subvectors. A
    // probed cell with no members has no recentring mean (and no
    // candidates either) — the inner join drops it consistently.
    val qres = probes
      .join(broadcast(ivf.recenter), col("centroid_id") === col("c_id"))
      .select(col("qid"), col("centroid_id"),
        zip_with(col("qv"), col("mv"), (a, b) => a - b).as("rv"))
    val qsubs = qres.select(col("qid"), col("centroid_id"),
      subvectors(col("rv"), index.m, index.dsub))
    val lut = qsubs.join(broadcast(index.cents), "sub")
      .select(col("qid").as("lqid"), col("centroid_id").as("lcell"),
        col("sub").as("lsub"), col("c_id").as("lcode"),
        microDist2(col("sv"), col("cv")).as("dm"))
    val cand = cells
      .join(broadcast(probes.select(col("qid"), col("centroid_id"))),
        Seq("centroid_id"))
      .select(col("qid"), col("centroid_id"), col("id"))
    val adist = index.codes.join(cand, Seq("id"))
      .join(broadcast(lut),
        col("qid") === col("lqid") && col("centroid_id") === col("lcell") &&
          col("sub") === col("lsub") && col("code") === col("lcode"))
      .filter(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id").as("cid"))
      .agg(sum(col("dm")).as("adist"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("cid"))
    adist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Residual-vs-raw quantization uplift at EQUAL code budget, against
    * the exact cosine yardstick (the q178 convention), as ONE
    * reduce-order-free integer row: both blocked scans share the same
    * coarse quantizer, probes and (m × kCodes) budget, so any recall
    * difference is purely the residual re-centring. Emits
    * (n_q, sum_hits_res, sum_hits_plain, mean_recall_res_micro,
    * mean_recall_plain_micro, res_ge_plain) — integer micro means via
    * exact div, never a float average (engine-stable). */
  def residualUpliftStats(resIndex: PqIndex, plainIndex: PqIndex,
                          corpus: DataFrame, queries: DataFrame, k: Int,
                          nCentroids: Int, nProbe: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val exact = bruteTopK(corpus, queries, k, idCol, vecCol)
    val res = recallAtK(exact,
      residualPqSearch(resIndex, queries, k, nProbe, idCol, vecCol))
    val plain = recallAtK(exact,
      ivfPqSearch(plainIndex, corpus, queries, k, nCentroids, nProbe,
        idCol, vecCol))
    res.select(col("qid"), col("n_hits").as("hr"))
      .join(plain.select(col("qid"), col("n_hits").as("hp")), Seq("qid"))
      .agg(count(lit(1)).as("n_q"),
        sum(col("hr")).as("sum_hits_res"),
        sum(col("hp")).as("sum_hits_plain"))
      .select(col("n_q"), col("sum_hits_res"), col("sum_hits_plain"),
        expr(s"sum_hits_res * 1000000 div (n_q * $k)")
          .as("mean_recall_res_micro"),
        expr(s"sum_hits_plain * 1000000 div (n_q * $k)")
          .as("mean_recall_plain_micro"),
        (col("sum_hits_res") >= col("sum_hits_plain")).cast("long")
          .as("res_ge_plain"))
  }

  /** Exact-refine re-rank of a first-stage shortlist (the FAISS
    * `IndexRefineFlat` shape): any compressed/blocked first stage
    * produces `shortlist` rows (qid, cid); the refine step fetches the
    * FULL-PRECISION vectors for shortlist candidates only and re-ranks
    * them by exact 6-dp cosine, ties on cid — the bruteTopK total
    * order restricted to the shortlist, so a true top-k member that
    * survived the first stage can never be lost to quantization error
    * again (refined recall ≥ first-stage recall, a theorem under the
    * shared rounding/tie rules — spec-pinned and gated by
    * [[refineUpliftStats]]).
    *
    * Scale: THE reason two-stage retrieval works at 100 TB — the
    * corpus floats are touched for |Q|·R rows (one skinny equi-join
    * on id against the corpus; filters push to the scan), not the
    * full corpus; queries broadcast; per-pair work is one codegen dot;
    * the rank window shuffles |Q|·R skinny rows. R (shortlist depth)
    * is the recall/cost dial: the compressed stage is cheap per
    * candidate so R ≫ k costs little, and refine buys back the
    * quantization loss inside those R. */
  def refineTopK(corpus: DataFrame, queries: DataFrame,
                 shortlist: DataFrame, k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    shortlist.select(col("qid"), col("cid"))
      .join(c, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), round(sim, 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-PQ first stage at shortlist depth `r`, exact refine to `k` —
    * the composed retrieve-then-refine operator over a prebuilt index
    * ([[ivfPqSearch]] → [[refineTopK]]). */
  def ivfPqRefineTopK(index: PqIndex, corpus: DataFrame,
                      queries: DataFrame, k: Int, r: Int,
                      nCentroids: Int = 16, nProbe: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"shortlist depth r=$r must be >= k=$k")
    refineTopK(corpus, queries,
      ivfPqSearch(index, corpus, queries, r, nCentroids, nProbe,
        idCol, vecCol),
      k, idCol, vecCol)
  }

  /** Refine-vs-unrefined recall uplift against the exact yardstick,
    * as ONE reduce-order-free integer row (the [[residualUpliftStats]]
    * convention): the first stage runs ONCE at depth `r` (eagerly
    * pinned — two ranking consumers must not replay the codes scan);
    * the unrefined ranking is its rank ≤ k prefix, the refined ranking
    * is [[refineTopK]] over all `r`. The first stage follows the index
    * kind: [[ivfPqSearch]] over `nCentroids` corpus cells for a flat
    * index, [[residualPqSearch]] over the stored cells for an IVF one
    * (the better-recall first stage gets the same measured refine
    * gate). `refined_ge_unrefined` is a theorem (a true top-k member of
    * the shortlist always survives exact re-ranking), so the flag
    * flipping red means the rounding or tie conventions
    * desynchronized — a bug, not a tuning outcome.
    * Emits (n_q, sum_hits_refined, sum_hits_unrefined,
    * mean_recall_refined_micro, mean_recall_unrefined_micro,
    * refined_ge_unrefined). */
  def refineUpliftStats(index: PqIndex, corpus: DataFrame,
                        queries: DataFrame, k: Int, r: Int,
                        nCentroids: Int = 16, nProbe: Int = 4,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(r >= k, s"shortlist depth r=$r must be >= k=$k")
    // |Q|·r skinny rows — the documented eager-checkpoint class (the
    // shortlist is consumed by both rankings; without pinning, each
    // replays the blocked ADC scan)
    val firstStage = index.ivf match {
      case None => ivfPqSearch(index, corpus, queries, r, nCentroids,
        nProbe, idCol, vecCol)
      case Some(_) => residualPqSearch(index, queries, r, nProbe,
        idCol, vecCol)
    }
    refineUpliftFromShortlist(corpus, queries,
      firstStage.localCheckpoint(true), k, idCol, vecCol)
  }

  /** Shared refined-vs-unrefined tail over a PINNED (qid, cid, rank)
    * shortlist — one first-stage pass, two rankings, one gate row. */
  private def refineUpliftFromShortlist(corpus: DataFrame,
                                        queries: DataFrame,
                                        shortlist: DataFrame, k: Int,
                                        idCol: String,
                                        vecCol: String): DataFrame = {
    val exact = bruteTopK(corpus, queries, k, idCol, vecCol)
    val refined = recallAtK(exact,
      refineTopK(corpus, queries, shortlist, k, idCol, vecCol))
    val unrefined = recallAtK(exact, shortlist.filter(col("rank") <= k))
    refined.select(col("qid"), col("n_hits").as("hr"))
      .join(unrefined.select(col("qid"), col("n_hits").as("hu")),
        Seq("qid"))
      .agg(count(lit(1)).as("n_q"),
        sum(col("hr")).as("sum_hits_refined"),
        sum(col("hu")).as("sum_hits_unrefined"))
      .select(col("n_q"), col("sum_hits_refined"),
        col("sum_hits_unrefined"),
        expr(s"sum_hits_refined * 1000000 div (n_q * $k)")
          .as("mean_recall_refined_micro"),
        expr(s"sum_hits_unrefined * 1000000 div (n_q * $k)")
          .as("mean_recall_unrefined_micro"),
        (col("sum_hits_refined") >= col("sum_hits_unrefined"))
          .cast("long").as("refined_ge_unrefined"))
  }

  /** IVF operating-curve sweep: recall@k and candidate volume at each
    * nProbe setting, as one gate row PER OPERATING POINT — the tuning
    * table every IVF deployment reads before fixing nProbe (recall
    * rises with probes, scan cost rises linearly with candidates; the
    * knee is corpus-specific and must be MEASURED, the q186/q200
    * standard). Emits (nprobe, n_q, sum_hits, mean_recall_micro,
    * n_cand, recall_monotone_ok) ordered by nprobe.
    * `recall_monotone_ok` pins a theorem: candidate sets nest across
    * nProbe and the re-rank scores candidates by exact cosine, so any
    * true top-k member in a smaller probe set is also in every larger
    * one — recall can never decrease as nProbe grows. A red flag means
    * the probe ranking or tie conventions broke, not noise.
    *
    * Scale: ONE cell assignment and ONE scored candidate pass at
    * max(nProbes) (pinned — |Q|·maxProbe/nCentroids of the corpus,
    * skinny scored rows), each operating point then filters by probe
    * rank and re-windows — no per-point corpus work. The sweep is an
    * eval-tier operator: run on a query SAMPLE, never the corpus. */
  def ivfRecallSweep(corpus: DataFrame, queries: DataFrame, k: Int,
                     nCentroids: Int, nProbes: Seq[Int],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nProbes.nonEmpty && nProbes == nProbes.sorted &&
      nProbes.distinct == nProbes && nProbes.head >= 1,
      "nProbes must be distinct, ascending, >= 1")
    val maxProbe = nProbes.max
    val assigned = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
    // probe ranking with the rank RETAINED (ivfProbes drops it): the
    // same 6-dp cosine + smallest-centroid-id tie convention
    val cents = corpus
      .select(col(idCol).as("c_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .orderBy(col("c_id")).limit(nCentroids)
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val cdenom = col("qn") * col("cn")
    val csim = when(cdenom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / cdenom)
    val cw = Window.partitionBy(col("qid"))
      .orderBy(col("_csim").desc, col("c_id"))
    val probes = q.join(broadcast(cents), lit(true))
      .withColumn("_csim", round(csim, 6))
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= maxProbe)
      .select(col("qid"), col("qv"), col("qn"),
        col("c_id").as("centroid_id"), col("crk"))
    // ONE scored candidate pass at maxProbe, probe rank riding along —
    // |Q|·(maxProbe/nCentroids)·n skinny rows, eagerly pinned for the
    // per-point consumers (documented checkpoint class)
    val denom = col("qn") * col("nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("v")) / denom)
    val scored = assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("cid"),
        round(sim, 6).as("cos_sim"), col("crk"))
      .localCheckpoint(true)
    val exact = bruteTopK(corpus, queries, k, idCol, vecCol)
      .select(col("qid"), col("cid")).localCheckpoint(true)
    val rows = nProbes.map { p =>
      val candP = scored.filter(col("crk") <= p)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_sim").desc, col("cid"))
      val topk = candP.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"))
      val hits = exact.join(topk, Seq("qid", "cid"), "left_semi")
      // 1-row broadcast scalar attachments (the sanctioned crossJoin
      // class) — each side is a full-frame aggregate
      val nq = queries.select(col(idCol)).distinct()
        .agg(count(lit(1)).as("n_q"))
      nq.join(broadcast(hits.agg(count(lit(1)).as("sum_hits"))), lit(true))
        .join(broadcast(candP.agg(count(lit(1)).as("n_cand"))), lit(true))
        .select(lit(p.toLong).as("nprobe"), col("n_q"), col("sum_hits"),
          expr(s"sum_hits * 1000000 div (n_q * $k)")
            .as("mean_recall_micro"),
          col("n_cand"))
    }
    val sweep = rows.reduce(_.unionAll(_))
    val mw = Window.orderBy(col("nprobe"))
    sweep.withColumn("recall_monotone_ok",
        (col("mean_recall_micro") >=
          coalesce(lag(col("mean_recall_micro"), 1).over(mw),
            lit(0L))).cast("long"))
      .orderBy(col("nprobe"))
  }

  /** Per-label embedding outliers: the `k` vectors per label FURTHEST
    * (lowest cosine) from their own label's centroid — the
    * embedding-space quality filter of a labeled training set (CLIP-
    * score-style filtering, mislabel triage): vectors atypical of their
    * class are review/drop candidates.
    *
    * Determinism: the centroid is 6-dp-rounded per dimension before
    * any similarity (the k-means trajectory convention), similarities
    * 6-dp-rounded before ranking, ties by id.
    *
    * Scale: one hash aggregate builds the label-count centroid table
    * (partial sum-vector buffers are all that shuffles), broadcast
    * back; per-vector similarity is one map-side codegen dot product;
    * the ranking window shuffles (label, id, sim) rows only — column
    * pruning drops the vectors before the exchange. */
  def centroidOutliers(emb: DataFrame, k: Int = 5,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col(labelCol).as("label"), col(idCol).as("id"),
      asDouble(col(vecCol)).as("v"))
    val cents = e.groupBy(col("label"))
      .agg(graft.functions.VectorAggregates.vector_micro_mean(col("v"))
        .as("mv"))
      .select(col("label"), col("mv").as("cv"))
    val scored = e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("id"),
        round(cosine(col("v"), col("cv")), 6).as("sim"))
    val w = Window.partitionBy(col("label")).orderBy(col("sim"), col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("id").as(idCol), col("sim"))
  }

  /** Recall@k evaluation of the SRP-LSH index against the exact
    * brute-force ranking, per query: n_hits = |ann top-k ∩ exact
    * top-k|, recall = n_hits/n_exact (n_exact = |exact top-k| — equal
    * to k except on corpora smaller than k, where the divisor is the
    * achievable set, keeping recall 1.0 for a perfect index instead of
    * penalizing small corpora). The operator every ANN deployment runs
    * before trusting its index parameters (bits/tables trade recall
    * for candidate volume) — and after every reindex, as drift
    * monitoring.
    *
    * Scale: evaluation runs on a query SAMPLE (queries df), never the
    * full corpus — the brute side is the yardstick and stays
    * broadcast-query-sided exactly as q21; the join of the two top-k
    * frames is k·|queries| rows a side. */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                bits: Int = 4, tables: Int = 8,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                scheme: Dedup.HashScheme = Dedup.FastHash): DataFrame = {
    recallAtK(
      bruteTopK(corpus, queries, k, idCol, vecCol),
      annTopK(corpus, queries, k, bits, tables, idCol, vecCol, scheme))
  }

  /** [[recallAtK]] reduced to ONE reduce-order-free integer row —
    * the gate-row form (the q190 convention): (n_q, sum_hits,
    * mean_recall_micro) with the mean via exact integer division over
    * n_q·k, so engine float-summation order can never flip it. `k` is
    * the DESIGN k (the denominator), deliberately not inferred from
    * the exact frame — a truncated exact ranking should read as
    * missing recall, not a smaller denominator. */
  def recallStats(exactTopK: DataFrame, approxTopK: DataFrame,
                  k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    recallAtK(exactTopK, approxTopK)
      .agg(count(lit(1)).as("n_q"), sum(col("n_hits")).as("sum_hits"))
      .select(col("n_q"), col("sum_hits"),
        expr(s"sum_hits * 1000000 div (n_q * $k)").as("mean_recall_micro"))
  }

  /** Per-query recall of an approximate top-k result set against the
    * exact one — both frames keyed (qid, cid). Pure pair-set
    * arithmetic on the already-skinny rankings; shared by
    * [[annRecall]] and the PQ-ADC gate. */
  /** Micro-pinned nDCG position discounts for ranks 1..k:
    * wt(i) = ⌊10⁶ / log₂(i+1) + 0.5⌋. Computed ONCE here in Scala and
    * interpolated as LITERALS into both the Spark plan and the DuckDB
    * oracle SQL — neither engine evaluates a logarithm at query time,
    * so the one place IEEE `log` could diverge across engines is
    * removed from the replay entirely (the q212-weights discipline). */
  def ndcgWeightsMicro(k: Int): Array[Long] =
    Array.tabulate(k)(i =>
      math.floor(1e6 / (math.log(i.toDouble + 2) / math.log(2)) + 0.5)
        .toLong)

  /** Graded ranking metrics of an approximate top-k against the exact
    * reference — MRR and nDCG@k, the two numbers a retrieval eval
    * reads next to recall ([[recallStats]] counts hits; these score
    * WHERE the hits landed): binary relevance = membership in the
    * exact top-k, rr = 10⁶ div first-relevant-rank, dcg = Σ wt(rank)
    * over relevant positions with the [[ndcgWeightsMicro]] discounts,
    * idcg = the best-possible prefix sum at min(k, n_exact). ONE
    * reduce-order-free integer row: (n_q, sum_rr_micro, mean_rr_micro,
    * sum_ndcg_micro, mean_ndcg_micro) — every division exact integer
    * `div`, so engine float order can never flip the hash.
    *
    * Inputs: `exactTopK` (qid, cid), `approxTopK` (qid, cid, rank) —
    * rows past rank k are ignored. A query with no relevant item in
    * the approx list contributes 0 to both sums (measured misses,
    * never dropped rows).
    *
    * Scale: joins and aggregates over the two k·|queries| skinny
    * frames only. */
  def rankingStats(exactTopK: DataFrame, approxTopK: DataFrame,
                   k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val wts = ndcgWeightsMicro(k)
    val pfx = wts.scanLeft(0L)(_ + _).tail // pfx(i) = Σ wt(1..i+1)
    val exact = exactTopK.select(col("qid"), col("cid"))
      .localCheckpoint(true)
    val rel = approxTopK.select(col("qid"), col("cid"), col("rank"))
      .filter(col("rank") <= k)
      .join(exact, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid"))
      .agg(sum(element_at(lit(wts), col("rank").cast("int"))).as("dcg"),
        min(col("rank")).cast("long").as("frank"))
    val per = exact.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_e"))
      .join(rel, Seq("qid"), "left")
      .select(col("qid"),
        when(col("frank").isNotNull, expr("1000000 div frank"))
          .otherwise(lit(0L)).as("rr"),
        coalesce(col("dcg"), lit(0L)).as("dcg"),
        element_at(lit(pfx), least(col("n_e"), lit(k.toLong)).cast("int"))
          .as("idcg"))
      .select(col("qid"), col("rr"),
        when(col("idcg") > 0, expr("dcg * 1000000 div idcg"))
          .otherwise(lit(0L)).as("ndcg"))
    per.agg(count(lit(1)).as("n_q"),
        sum(col("rr")).as("sum_rr_micro"),
        sum(col("ndcg")).as("sum_ndcg_micro"))
      .select(col("n_q"), col("sum_rr_micro"),
        expr("sum_rr_micro div n_q").as("mean_rr_micro"),
        col("sum_ndcg_micro"),
        expr("sum_ndcg_micro div n_q").as("mean_ndcg_micro"))
  }

  def recallAtK(exactTopK: DataFrame, approxTopK: DataFrame): DataFrame = {
    val exact = exactTopK.select(col("qid"), col("cid"))
    val approx = approxTopK.select(col("qid"), col("cid"))
    val hits = exact.join(approx, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
      .orderBy(col("qid"))
  }

  /** Per-dimension distribution stats of an embedding column — the
    * whitening/normalization pre-pass every embedding pipeline runs
    * before PQ/IVF training (mean-centering, per-dim scale, dead-dim
    * detection): (dim, n, mean, std_pop, min, max).
    *
    * Determinism: each element is micro-quantized (`round(x*1e6)` →
    * BIGINT) BEFORE aggregation, so the shuffled partial sums are
    * integer — order-free and bit-identical across engines; only the
    * final per-dim scalar math (mean/variance of one group) runs in
    * floating point. The squared sum accumulates as decimal(38,0):
    * micros² ≈ 1e12 per element would overflow int64 past ~9M rows per
    * dimension, and 100 TB of vectors is billions.
    *
    * Scale: posexplode multiplies rows ×dims, but partial hash
    * aggregation collapses each partition to `dims` buffer rows before
    * the exchange — the shuffle is O(partitions × dims), independent of
    * row count. 100 TB of vectors shuffles kilobytes. */
  def dimStats(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    // quantize AFTER the explode: a transform() lambda before it runs
    // interpreted (higher-order functions never enter codegen — the
    // q105/BM25 lesson), while the identical arithmetic on the exploded
    // scalar is WholeStageCodegen'd. Probed 17.0 → 13.7 s at 25.6M
    // elements (the remainder is the Generate itself, not the math).
    val micro = emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("xm"))
    micro.groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xm")).as("s1"),
        sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("s2"),
        min(col("xm")).as("mn"),
        max(col("xm")).as("mx"))
      .select(col("dim"), col("n"),
        round(col("s1") / col("n") / 1e6, 6).as("mean_value"),
        round(
          sqrt(col("s2").cast("double") / col("n") -
            (col("s1") / col("n")) * (col("s1") / col("n"))) / 1e6, 6)
          .as("std_value"),
        round(col("mn") / 1e6, 6).as("min_value"),
        round(col("mx") / 1e6, 6).as("max_value"))
      .orderBy(col("dim"))
  }

  /** Top principal direction of the embedding covariance by power
    * iteration over EXACT INTEGER moments — the [[dimStats]] follow-up
    * an embedding pipeline runs to see whether variance concentrates
    * along one axis (anisotropy diagnosis: whitening decision, PQ
    * subspace balance — the measured OPQ null result's covariance
    * evidence, NOTES §Round-12). Emits one row per dimension
    * (dim, loading_micro, ev_ratio_micro): the unit(-micro) PC1
    * loading and the (constant) explained-variance ratio
    * λ₁/trace(Σ) in micro.
    *
    * Determinism — the whole computation is exact integer arithmetic,
    * so it replays bit-for-bit in any engine: elements are pinned to
    * micro BIGINTs (`floor(x·1e6 + 0.5)`, the quantizeInt8
    * convention); the scatter matrix N = n·Σxᵢxⱼ − SᵢSⱼ (= n²·cov) is
    * exact integer; each power step is w = N·v in arbitrary-precision
    * integers, renormalized to micro scale by truncating division of
    * non-negative magnitudes (sign split — floor-vs-truncate can
    * never disagree); the sign is canonicalized so the largest-|v|
    * dimension (smallest dim on ties) is positive; ev_ratio_micro =
    * ((vᵀNv div vᵀv) · 10⁶) div trace(N) with that exact division
    * order.
    *
    * Scale: ONE distributed pass builds the dim×(dim+1)/2 upper-
    * triangle moment cells — the double posexplode multiplies rows
    * ×dim², but partial hash aggregation collapses each partition to
    * ≤ dim² buffer cells before the exchange, so the shuffle is
    * O(partitions · dim²) — independent of row count, kilobytes at
    * 100 TB. The collected moment matrix is dim² cells (the
    * centroid-model driver allowance: 64-dim → 2 080 cells) and the
    * iteration itself is a dim×dim matrix-vector product on the
    * driver — a model computation, never data. */
  def pc1PowerIteration(emb: DataFrame, iters: Int = 3,
                        vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val xm = emb.select(transform(asDouble(col(vecCol)),
      x => floor(x * 1e6 + lit(0.5)).cast("long")).as("xm"))
    // upper triangle only (products commute — the driver mirrors);
    // quantization happened BEFORE the explode on the array, so both
    // generates emit the already-integer elements
    val pairs = xm
      .select(col("xm"), posexplode(col("xm")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(col("xm")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
    val mom = pairs.groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj")).cast("decimal(38,0)")).as("s2"))
      .collect()
    val m1n = xm.select(posexplode(col("xm")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(sum(col("xi")).as("s1"), count(lit(1)).as("n"))
      .collect()
    if (m1n.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("dim", "loading_micro", "ev_ratio_micro")
    val dim = m1n.length
    val s1 = Array.ofDim[BigInt](dim)
    var n = 0L
    m1n.foreach { r =>
      s1(r.getInt(0)) = BigInt(r.getLong(1)); n = r.getLong(2)
    }
    val N = Array.ofDim[BigInt](dim, dim)
    mom.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val s2 = BigInt(r.getDecimal(2).toBigInteger)
      val v = BigInt(n) * s2 - s1(i) * s1(j)
      N(i)(j) = v; N(j)(i) = v
    }
    // truncating division of non-negative magnitudes — floor ==
    // truncate, identical in every engine
    def scaleDiv(x: BigInt, d: BigInt): BigInt =
      if (x.signum < 0) -((-x) * 1000000 / d) else x * 1000000 / d
    var v = Array.fill(dim)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        (0 until dim).foldLeft(BigInt(0))((acc, j) => acc + N(i)(j) * v(j))
      }
      val mx = w.map(_.abs).max
      if (mx.signum > 0) v = w.map(scaleDiv(_, mx))
    }
    val dmax = (0 until dim).maxBy(i => (v(i).abs, BigInt(-i)))
    if (v(dmax).signum < 0) v = v.map(-_)
    val vNv = (for (i <- 0 until dim; j <- 0 until dim)
      yield v(i) * N(i)(j) * v(j)).foldLeft(BigInt(0))(_ + _)
    val vv = v.foldLeft(BigInt(0))((a, x) => a + x * x)
    val trace = (0 until dim).foldLeft(BigInt(0))((a, i) => a + N(i)(i))
    val ratio =
      if (vv.signum > 0 && trace.signum > 0) (vNv / vv) * 1000000 / trace
      else BigInt(0)
    (0 until dim).map(i => (i.toLong, v(i).toLong, ratio.toLong))
      .toDF("dim", "loading_micro", "ev_ratio_micro")
  }

  /** Metadata-FILTERED vector search, pre-filter strategy: exact
    * top-k per query among the probed IVF cells' members that survive
    * an `allowed` allowlist semi-join — the "filtered ANN" problem
    * every production vector store solves (predicate + vector score
    * in one query; Qdrant/Milvus/Vespa all ship it). The allowlist is
    * a FRAME, not a closure: in a real deployment it's a predicate
    * over a metadata table (lang = 'en', license = permissive,
    * quality_bucket >= 7) and arrives here as exactly the semi-join
    * Spark would plan for that predicate.
    *
    * Strategy note (the deployment trade-off this operator pins):
    * PRE-filtering inside probed cells keeps recall independent of
    * filter selectivity — every surviving candidate is scored, so a
    * 1% filter still yields k results (post-filtering an unfiltered
    * top-k' would need k' ≈ k/selectivity to match). The price is
    * that the semi-join touches the probed cells' full membership;
    * that is bounded by nProbe/nCentroids of the corpus — the same
    * bound the unfiltered scan already pays, so pre-filter strictly
    * dominates here. The index is built on the FULL corpus (frozen-
    * quantizer convention): seeds must not depend on the filter, or
    * every distinct predicate would imply a different index.
    *
    * Determinism: same 6-dp cosine / smallest-cid tie conventions as
    * [[ivfTopK]]. Emits (qid, cid, cos_sim, rank), rank over the
    * FILTERED candidate set. */
  def filteredIvfTopK(corpus: DataFrame, queries: DataFrame,
                      allowed: DataFrame, k: Int,
                      nCentroids: Int = 16, nProbe: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(corpus, nCentroids, 1, idCol, vecCol)
      .join(allowed.select(col(idCol).as("id")).distinct(),
        Seq("id"), "left_semi")
    val probes = ivfProbes(corpus, queries, nCentroids, nProbe,
      idCol, vecCol)
    val denom = col("qn") * col("nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("v")) / denom)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("cid"), round(sim, 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Recall gate for [[filteredIvfTopK]] against the filtered-brute
    * yardstick (exact top-k over the allowlisted corpus — the answer
    * a post-filter with unbounded depth would converge to). One row:
    * (n_q, n_allowed, selectivity_micro, sum_hits, mean_recall_micro).
    * Selectivity rides along because it is THE variable the
    * pre-vs-post decision turns on — this gate measured at several
    * selectivities is the filtered-search tuning table. */
  def filteredSearchRecallStats(corpus: DataFrame, queries: DataFrame,
                                allowed: DataFrame, k: Int,
                                nCentroids: Int = 16, nProbe: Int = 4,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val allowIds = allowed.select(col(idCol)).distinct()
      .localCheckpoint(true)
    val filteredCorpus = corpus.join(allowIds, Seq(idCol), "left_semi")
    // the yardstick ranks by EXACT integer keys (pinnedBruteTopK): this
    // gate emits recall COUNTS, so a rank-boundary cosine must never be
    // decided by a native float kernel that can differ across engine
    // versions (the r13 driver red on this very query).
    // NOTE (r16 optimization pass): overlapping the yardstick / IVF /
    // count branches via Par was MEASURED SLOWER here (1.48 s serial vs
    // 1.6-2.1 s parallel at sf0.1) — the branches are dominated by tiny
    // collect-ended jobs whose concurrent scheduling contends rather
    // than back-fills — so this operator deliberately stays serial.
    val exact = pinnedBruteTopK(filteredCorpus, queries, k, idCol, vecCol)
    val approx = filteredIvfTopK(corpus, queries, allowIds, k,
      nCentroids, nProbe, idCol, vecCol)
    val nTotal = corpus.select(col(idCol)).distinct().count()
    val nAllowed = allowIds.count()
    recallAtK(exact, approx)
      .agg(count(lit(1)).as("n_q"), sum(col("n_hits")).as("sum_hits"))
      .select(col("n_q"), lit(nAllowed).as("n_allowed"),
        lit(nAllowed * 1000000L / math.max(nTotal, 1L))
          .as("selectivity_micro"),
        col("sum_hits"),
        expr(s"sum_hits * 1000000 div (n_q * $k)")
          .as("mean_recall_micro"))
  }

  /** Scatter-gather EXACT top-k — the 1000-executor serving plan: the
    * corpus is split into `nShards` disjoint shards (id mod nShards —
    * deterministic and replayable; a deployment would use the
    * partition layout it already has), each shard computes its own
    * exact top-k per query, and the gather stage merges the |Q|·S·k
    * shard winners into the global top-k. Exactness is a theorem, not
    * a measurement: every global top-k member lives in exactly one
    * shard and scores in that shard's top-k (scores are per-pair, so
    * shard-local rank ≥ global rank) — the union of shard winners
    * therefore CONTAINS the global top-k, and re-ranking it recovers
    * the global answer bit-for-bit. The oracle for this operator is
    * the UNSHARDED brute scan verbatim; hash equality IS the theorem
    * checked.
    *
    * Scale shape: the scatter stage is embarrassingly parallel (each
    * shard a partition-local TakeOrderedAndProject over its slice —
    * the per-shard window is keyed (qid, shard), corpus-cardinality
    * partitions); the gather stage sees |Q|·S·k skinny rows — for
    * 10⁴ queries × 10³ shards × 10 that is 10⁸ rows of three columns,
    * trivially re-windowed. No stage ever funnels the corpus. */
  def shardedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  nShards: Int = 8,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1, "nShards must be >= 1")
    val c = corpus.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("shard", pmod(col("cid"), lit(nShards.toLong)))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val denom = col("qn") * col("cn")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("qv"), col("cv")) / denom)
    // scatter: per-(query, shard) local top-k
    val wLocal = Window.partitionBy(col("qid"), col("shard"))
      .orderBy(col("cos_sim").desc, col("cid"))
    val shardWinners = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("shard"),
        round(sim, 6).as("cos_sim"))
      .withColumn("lrank", row_number().over(wLocal))
      .filter(col("lrank") <= k)
    // gather: merge |Q|·S·k winners into the global top-k
    val wGlobal = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    shardWinners
      .select(col("qid"), col("cid"), col("cos_sim"))
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-vector k-nearest-neighbors WITHIN IVF blocks — the top-k
    * generalization of [[nnWithinBlocks]] (k = 1): candidates come
    * from the nAssign-way bucket equi-join, never an all-pairs
    * product; the same neighbor surfacing through two shared buckets
    * is collapsed by DISTINCT before ranking (scores are
    * deterministic per pair, so which copy survives is irrelevant).
    * Emits (id, nid, cos_sim, rank) — vectors alone in all their
    * buckets are absent. */
  def knnWithinBlocks(emb: DataFrame, k: Int, nCentroids: Int = 16,
                      nAssign: Int = 2, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssign(emb, nCentroids, nAssign, idCol, vecCol)
      .localCheckpoint()
    val denom = col("a.nrm") * col("b.nrm")
    val sim = when(denom === 0.0, 0.0)
      .otherwise(dot(col("a.v"), col("b.v")) / denom)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos_sim").desc, col("nid"))
    assigned.as("a").join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nid"),
        round(sim, 6).as("cos_sim"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Mutual-kNN pairs — the reciprocal-nearest-neighbor filter
    * duplicate-verification pipelines run AFTER candidate generation
    * (a pair is believed only when each side ranks the other in its
    * own top-k; one-directional attraction is how a hub vector
    * falsely absorbs its whole neighborhood). Built on
    * [[knnWithinBlocks]]: pair (a, b) survives iff b ∈ kNN(a) AND
    * a ∈ kNN(b). Emits (vec_a, vec_b, cos_sim, rank_ab, rank_ba)
    * with vec_a < vec_b.
    *
    * Scale shape: the kNN frame is ≤ n·k skinny rows; mutuality is a
    * self equi-join on the reversed id pair — keyed, bounded, no
    * corpus² anywhere. The blocked candidate generation inherits the
    * (nCentroids, nAssign) recall dial. */
  def mutualKnnPairs(emb: DataFrame, k: Int, nCentroids: Int = 16,
                     nAssign: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    mutualKnnPairsFromKnn(
      knnWithinBlocks(emb, k, nCentroids, nAssign, idCol, vecCol)
        .localCheckpoint(true))

  /** [[mutualKnnPairs]] over a PREBUILT kNN frame — the shared-graph
    * seam (see [[knnLabelVoteStatsFromKnn]]); pass a pinned frame
    * (both join sides read it). */
  def mutualKnnPairsFromKnn(knn: DataFrame): DataFrame = {
    val ab = knn.select(col("id").as("vec_a"), col("nid").as("vec_b"),
      col("cos_sim"), col("rank").as("rank_ab"))
    val ba = knn.select(col("nid").as("vec_a"), col("id").as("vec_b"),
      col("rank").as("rank_ba"))
    ab.join(ba, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"),
        col("rank_ab"), col("rank_ba"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
