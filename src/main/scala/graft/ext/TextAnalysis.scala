package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. Extension tier — the
  * reference has no text ops (SURVEY.md §7 step 5); semantics here are
  * standard corpus-prep heuristics (length/punct/stopword ratios, n-gram
  * stopword language scoring, winnowing fingerprints).
  *
  * Everything is built from codegen'd built-ins and higher-order array
  * functions — per-row, map-side only, no shuffle, no UDFs — so the ops
  * scale linearly with the corpus and stay inside WholeStageCodegen.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped (split("\\s+") emits a leading
    * "" for text starting with whitespace — both we and the DuckDB oracle
    * filter it). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** A BPE-ish pre-tokenizer count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token. */
  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Tiny per-language stopword lists for the n-gram language heuristic.
    * Deliberately small and fixed: they are part of the operator's
    * contract (the DuckDB oracle embeds the same lists). */
  val StopEn = Seq("the", "of", "and", "to", "a", "in", "is", "it", "you", "that")
  val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "auf")
  val StopFr = Seq("le", "les", "et", "est", "une", "dans", "que", "pour", "pas", "vous")
  val StopEs = Seq("el", "los", "y", "en", "un", "es", "por", "con", "para", "como")

  /** Stopword hits via the codegen `token_set_hits` kernel: one JIT
    * pass + O(1) hash probe per token, vs the interpreted
    * `size(filter(toks, array_contains(...)))` HOF chain this replaced
    * (boxed lambda per token × linear list scan — the text tier's
    * hottest scalar loop, q23/q24's dominant cost at sf0.1). */
  private def hits(t: Column, stops: Seq[String]): Column =
    graft.functions.TextFunctions.token_set_hits(t, stops)

  /** Codegen'd token count (word 1-grams, multiplicity kept): same
    * result as `size(tokens(c))` without the interpreted filter HOF. */
  def tokenCount(c: Column): Column =
    size(graft.functions.TextFunctions.word_grams(c, 1))

  /** 60-bit integer hash from the md5 hex prefix. Used where a
    * cross-engine oracle must replicate the hash exactly: every engine
    * has md5, while xxhash64 is Spark-specific. DuckDB equivalent:
    * `CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)`. 15 hex chars
    * = 60 bits, always positive, no sign-extension ambiguity. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Truncate to 4 decimals via floor-scaling. For *discrete* rationals
    * (k/n ratios) this is deterministic across engines, unlike round():
    * k/2^m values sit exactly on round-half boundaries (e.g. 1/32 =
    * 0.03125) where HALF_UP vs half-even implementations disagree.
    * floor of identical doubles is always identical. */
  def trunc4(c: Column): Column = floor(c * 10000) / 10000

  /** Quality metrics per document: token count, punctuation ratio,
    * stopword ratio, and a composite [0,1] quality score. */
  def withQuality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_chars_obs", length(t).cast("long"))
      .withColumn("punct_count",
        regexp_count(t, lit("[.,!?;:]")).cast("long"))
      .withColumn("punct_ratio",
        trunc4(col("punct_count") / greatest(col("n_chars_obs"), lit(1L))))
      .withColumn("stop_ratio",
        trunc4(hits(lower(t), StopEn) / greatest(col("n_tokens"), lit(1L))))
      .withColumn("quality",
        trunc4(
          least(col("n_tokens") / lit(100.0), lit(1.0)) *
            (lit(1.0) - least(col("punct_ratio") * 5, lit(1.0))) *
            (lit(0.25) + lit(0.75) * least(col("stop_ratio") * 4, lit(1.0)))))
  }

  /** Language ID: CJK characters force `zh`; otherwise the language with
    * the highest stopword-hit count wins, ties resolved en→de→fr→es.
    * The fixed tie order is part of the contract (oracle replicates it). */
  def withLangId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lt = lower(t)
    val cjk = regexp_count(t, lit("[\\x{4e00}-\\x{9fff}]"))
    val (en, de, fr, es) =
      (hits(lt, StopEn), hits(lt, StopDe), hits(lt, StopFr), hits(lt, StopEs))
    df.withColumn("pred_lang",
      when(cjk > 0, "zh")
        .when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es"))
  }

  /** Keyword-lexicon topic tagging — the cheap domain classifier a
    * curation pipeline runs before any learned model exists: each
    * topic is a word list, a document's score per topic is its
    * token-hit count against that list, and the tag is the argmax
    * (ties resolve to the EARLIEST topic in `lexicon` order — the
    * fixed order is part of the contract, exactly like
    * [[withLangId]]'s en→de→fr→es chain). Documents hitting no list
    * at all tag as `none` — on a multilingual corpus that is the
    * expected out-of-vocabulary bucket, not an error.
    *
    * Adds `topic` and `n_hits` (the winner's hit count; 0 for none).
    *
    * Scale: pure map-side — one codegen'd [[graft.functions
    * .TextExpressions.token_set_hits]] kernel per topic fused into a
    * single projection, a when-chain argmax, no explode, no join, no
    * shuffle; the lexicon lives in the plan, not in a table. */
  def topicTag(df: DataFrame, lexicon: Seq[(String, Seq[String])],
               textCol: String = "text"): DataFrame = {
    require(lexicon.nonEmpty, "lexicon must name at least one topic")
    require(lexicon.map(_._1).distinct.size == lexicon.size,
      "duplicate topic names make the argmax ambiguous")
    val lt = lower(col(textCol))
    val hitCols = lexicon.map { case (t, words) => t -> hits(lt, words) }
    val total = hitCols.map(_._2).reduce(_ + _)
    // argmax by lexicon order: topic i wins when its count is >= every
    // LATER topic's (earlier topics already failed their own chain step)
    val argmax = hitCols.tails.collect {
      case (t, h) +: rest if rest.nonEmpty =>
        (t, rest.map(_._2).map(h >= _).reduce(_ && _))
    }.foldRight(lit(lexicon.last._1): Column) { case ((t, cond), e) =>
      when(cond, t).otherwise(e)
    }
    df.withColumn("topic", when(total === 0, "none").otherwise(argmax))
      .withColumn("n_hits", // all-zero counts make this 0 for `none`
        (if (hitCols.sizeIs > 1) greatest(hitCols.map(_._2): _*)
         else hitCols.head._2).cast("long"))
  }

  /** Canonical-form fingerprint: md5 of the lowercased, single-spaced
    * token stream. Whitespace-insensitive exact-dup key. */
  def withFingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint",
      md5(array_join(tokens(lower(col(textCol))), " ")))

  /** Winnowing document sketch (Schleimer/Wilkerson/Aiken-style): hash
    * word n-gram shingles, slide a window of `w` hashes, keep each
    * window's min, dedupe. Emits the sketch size and an order-insensitive
    * XOR combination of the selected hashes. Map-side only. */
  /** Winnowing as a relational plan (codegen shingle kernel → sliding-
    * frame min → distinct → aggregate). Positions come for free from
    * `posexplode(word_shingles(...))`: the kernel emits distinct
    * shingles in first-occurrence order, so the array index IS the
    * first-occurrence rank — no lead() chain, no (id, sh) re-aggregate,
    * no row_number pass; the per-doc count `m` is `size()` of the same
    * array before explosion. The one exchange left is the id-keyed
    * shuffle for the sliding min over narrow (id, m, idx, h) rows.
    * Documents with at least one token but fewer than w shingle
    * windows contribute their global-min hash (window frames shorter
    * than w at the tail are excluded by the `idx` bound; a doc with
    * fewer than w shingles keeps exactly its idx=1 frame, which then
    * covers all its hashes). Docs with no shingles (< n tokens) yield
    * no fingerprints and are restored by the left join with n=0. */
  def withWinnow(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id",
                 n: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq0 = df
      .select(col(idCol).as("id"),
        graft.functions.TextFunctions.word_shingles(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).as("m"),
        posexplode(col("shs")).as(Seq("idx0", "sh")))
      .select(col("id"), col("m"), (col("idx0") + 1).as("idx"),
        md5Hash60(col("sh")).as("h")) // oracle-replicable hash
    val byDoc = Window.partitionBy(col("id")).orderBy(col("idx"))
    // sliding frame of w hashes; tail frames shorter than w are excluded
    // except when the doc has fewer than w shingles in total (then the
    // idx=1 frame covers them all — matching slice-based semantics)
    val frame = byDoc.rowsBetween(Window.currentRow, w - 1)
    val mins = seq0
      .withColumn("winmin", min(col("h")).over(frame))
      .filter(col("idx") <= greatest(col("m") - w + 1, lit(1)))
      .select(col("id"), col("winmin")).distinct()
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fingerprints"),
        expr("bit_xor(winmin)").as("winnow_xor"))
      .withColumnRenamed("id", idCol)
    df.join(mins, Seq(idCol), "left")
      .withColumn("n_fingerprints", coalesce(col("n_fingerprints"), lit(0L)))
      .withColumn("winnow_xor", coalesce(col("winnow_xor"), lit(0L)))
  }

  /** Deterministic train/val/test corpus split by hashed id — the
    * reproducible alternative to rand(): stable across re-runs,
    * retries, partitionings and engines (md5-based, so the oracle
    * replicates it exactly). Rows land in `split` ∈
    * {train, val, test} with trainPct/valPct/rest percent weights.
    * Map-side only — no shuffle, no RNG state. */
  def withHashSplit(df: DataFrame, idCol: String = "doc_id",
                    trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "split percentages exceed 100")
    val pct = pmod(md5Hash60(col(idCol).cast("string")), lit(100L))
    df.withColumn("split",
      when(pct < trainPct, "train")
        .when(pct < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Distributed sequential token packing (pretraining batch prep):
    * docs are sharded by hashed id — packing is embarrassingly parallel
    * per shard, which is what keeps this viable at corpus scale (a
    * single global ordered cumsum would serialize on one task) — and
    * within a shard docs in id order accumulate into `budget`-token
    * packs: pack index = floor(preceding-tokens / budget), so a doc
    * straddling a boundary joins the pack where its tokens started.
    * Returns the input plus (shard, n_tokens, pack_id). */
  def packSequences(df: DataFrame, budget: Int = 2048, shards: Int = 32,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("shard",
        pmod(md5Hash60(col(idCol).cast("string")), lit(shards.toLong)))
      .withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget))
  }

  /** Corpus-level token frequency top-k. One shuffle on the token key with
    * map-side partial aggregation; top-k is TakeOrderedAndProject. */
  def topTokens(df: DataFrame, textCol: String = "text", k: Int = 20): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Per-document term frequencies: one (id, token, tf) row per distinct
    * token per document — the shared contraction for every
    * frequency-weighted text op (tf-idf, LM scoring). One shuffle on
    * (id, token) with map-side partial counts; the result is at most
    * |vocab| rows per document, far smaller than the token stream, so
    * downstream aggregations re-shuffle the contraction, never the
    * corpus. */
  def termFrequencies(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Top-k tf-idf keywords per document: tfidf = tf · ln(N/df), rounded
    * to 6 dp before ranking (rank ties broken by token) so the score —
    * and therefore the rank — is reproducible cross-engine. The document
    * frequency table is vocabulary-sized and broadcast; N arrives as a
    * 1-row broadcast cross join, not a driver-side collect. The tf
    * contraction is localCheckpoint'd because both the df table and the
    * scored rows read it — otherwise Spark would re-run the corpus
    * explode+count once per consumer. */
  def tfIdfTopK(df: DataFrame, k: Int = 3, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFrequencies(df, idCol, textCol).localCheckpoint()
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id").as(idCol), col("rk"), col("token"), col("tfidf"))
  }

  /** CCNet-style unigram language-model quality score: per-token
    * information content b(t) = -log2(count(t)/total) from the corpus's
    * own unigram distribution, per-document average bits-per-token as
    * the fluency signal (high = token mix unlike the corpus — the
    * cheap stand-in for the KenLM perplexity filter; the wiring —
    * corpus LM → broadcast → per-doc score — is identical with a real
    * LM table). Token bits are quantized ONCE to BIGINT micro-bits
    * (round(b·10⁶)) and the per-doc average is integer floor-division —
    * all-integer arithmetic after the single quantization point, so the
    * result is bit-identical cross-engine (the q51 integer-exact
    * convention; a float weighted average re-rounded at 6 dp diverges
    * on boundary values). The LM table is vocabulary-sized and
    * broadcast; the per-doc aggregate shuffles only the tf
    * contraction. */
  def lmScore(df: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol).localCheckpoint()
    val freq = tf.groupBy(col("token")).agg(sum(col("tf")).as("c"))
    val tot = freq.agg(sum(col("c")).as("total"))
    val bits = freq.crossJoin(broadcast(tot))
      .select(col("token"),
        round(-log2(col("c") / col("total")) * 1e6).cast("long").as("ub"))
    tf.join(broadcast(bits), "token")
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr("sum(tf * ub) div sum(tf)").as("avg_microbits"))
      .select(col("id").as(idCol), col("n_tokens"), col("avg_microbits"))
  }

  /** Two-pass exact heavy hitters over an unbounded gram domain:
    * pass 1 builds a capacity-bounded Misra-Gries summary per group
    * (shuffles ≤ capacity counters per group per partition, never the
    * gram stream), pass 2 recounts ONLY the surviving candidates
    * exactly (broadcast semi join — the gram stream is filtered
    * map-side and the recount shuffle carries candidate grams only)
    * and ranks top-k. Exactness guarantee: MG retains every gram with
    * frequency > N_group/capacity, so the result is the exact top-k
    * whenever the k-th frequency clears that floor — the caller sizes
    * `capacity` to the tail they care about. The naive alternative
    * (groupBy over all grams) shuffles the entire n-gram stream of the
    * corpus; this shuffles two bounded sets. */
  def heavyGrams(df: DataFrame, n: Int = 2, k: Int = 5,
                 capacity: Int = 2048,
                 groupCol: String = "source",
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def grams = df.select(col(groupCol).as("grp"),
      explode(graft.functions.TextFunctions.word_grams(col(textCol), n))
        .as("gram"))
    val cand = grams.groupBy(col("grp"))
      .agg(graft.functions.SketchAggregates.mg_summary(capacity)(col("gram"))
        .as("summary"))
      .select(col("grp"), explode(map_keys(col("summary"))).as("gram"))
    val exact = grams
      .join(broadcast(cand), Seq("grp", "gram"), "left_semi")
      .groupBy(col("grp"), col("gram"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n").desc, col("gram"))
    exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("grp").as(groupCol), col("rk"), col("gram"), col("n"))
  }

  /** Gopher/RefinedWeb-style repetition metrics per document: total and
    * distinct word `n`-gram counts, the count of the single most
    * frequent n-gram, and the derived duplicate-n-gram fraction
    * `(total-distinct)/total` and top-gram mass `top/total` (both
    * trunc4'd) — the standard signals for dropping template/spam pages
    * whose text is internally repetitive.
    *
    * Entirely per-row map-side work via the codegen'd `gram_stats`
    * kernel — deliberately NOT the relational formulation (a
    * groupBy(doc, gram) would shuffle every n-gram of the corpus just
    * to compute per-doc mode counts), and not an interpreted
    * sort-the-array-and-fold either (measured ~7 s vs sub-second at
    * sf0.1). Documents with fewer than `n` tokens report zero counts
    * and 0.0 fractions. */
  def repetitionStats(df: DataFrame, n: Int = 2,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        graft.functions.TextFunctions.gram_stats(col(textCol), n).as("_s"))
      .select(col(idCol),
        col("_s.n_grams").as("n_grams"),
        col("_s.n_distinct").as("n_distinct"),
        col("_s.top_count").as("top_count"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          trunc4((col("n_grams") - col("n_distinct")) / col("n_grams")))
          .otherwise(0.0))
      .withColumn("top_frac",
        when(col("n_grams") > 0,
          trunc4(col("top_count") / col("n_grams"))).otherwise(0.0))

  /** Feature-hashed linear classifier inference (fastText-style bag of
    * hashed tokens): each token maps to a weight by hashing into
    * `buckets` integer milli-weights, a document's margin is the token
    * weight sum, and the predicted label is its sign. This is the batch
    * model-inference shape — per-row map-side scoring against a weight
    * function, no shuffle at all until a caller aggregates — with the
    * feature-hashing trick standing in for a learned weight table (no
    * OOV handling, O(1) memory; swap `md5Hash60 % buckets` for a
    * broadcast-joined learned table and the plan is unchanged, see
    * `lmScore` for that wiring).
    *
    * All-integer arithmetic (the q51/lmScore convention): weights are
    * integer milli-units in [-(buckets-1)/2, (buckets-1)/2], the margin
    * is their exact BIGINT sum — no float accumulation, no division.
    * Emits (id, n_tokens, margin_milli, label) with label = 1 when the
    * margin is strictly positive.
    *
    * `hashFn` follows the `Dedup.HashScheme` convention: the default
    * feature hash is xxhash64 with the sign folded out (a feature hash
    * only needs to be fixed within one model — measured 66 s → 26 s on
    * the 1M-doc probe vs per-token md5; the remainder is tokenization);
    * the registered query passes `md5Hash60` so the DuckDB oracle
    * replays the margins bit-for-bit. */
  def hashedLinearScore(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        buckets: Int = 1001,
                        hashFn: Column => Column =
                          // logical right shift, NOT abs(): xxhash64 can
                          // return Long.MinValue, whose abs overflows
                          // under ANSI arithmetic
                          c => shiftrightunsigned(xxhash64(c), 1)): DataFrame = {
    require(buckets > 1 && buckets % 2 == 1,
      "odd bucket count keeps the weight range symmetric around 0")
    val toks = tokens(lower(col(textCol)))
    val half = (buckets - 1) / 2
    val weights = transform(toks,
      t => hashFn(t) % buckets - half)
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(weights, lit(0L), (acc, x) => acc + x).as("margin_milli"))
      .withColumn("label",
        when(col("margin_milli") > 0, 1L).otherwise(0L))
  }

  // ===== BPE merge training ================================================

  /** Word → spaced symbol string (" s p a r k "): the working
    * representation for BPE merge application, with sentinel spaces so
    * a merge pattern " l r " can only match at symbol boundaries. */
  private def spacedChars(wordCol: Column): Column =
    concat(lit(" "),
      array_join(filter(split(wordCol, ""), c => c =!= lit("")), " "),
      lit(" "))

  /** Adjacent symbol pairs of a spaced symbol string, as (l, r) structs
    * (empty below two symbols — guards sequence() from descending). */
  private def adjacentPairs(symsCol: Column): Column = {
    val arr = split(trim(symsCol), " ")
    when(size(arr) >= 2,
      transform(sequence(lit(1), size(arr) - 1),
        i => struct(element_at(arr, i).as("l"),
          element_at(arr, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** Distributed BPE merge training: the hot loop of byte-pair-encoding
    * tokenizer induction, run for `iters` merges over the corpus's word
    * distribution. Each iteration counts adjacent symbol-pair
    * frequencies (weighted by word frequency), elects the most frequent
    * pair (ties: lexicographic, part of the contract), and applies the
    * merge to every word. Returns one row per learned merge:
    * (iter, left, right, merged, cnt).
    *
    * Scale shape: the ONLY corpus-sized operation is the initial word
    * count (one shuffle, re-used via localCheckpoint); every iteration
    * after that runs over the VOCABULARY (checkpointed per iteration so
    * the plan stays linear in `iters`, the q66 lesson), and the elected
    * pair joins back as a broadcast single row — the q8 leaderboard
    * pattern, no driver-side collect inside the loop. That matches how
    * BPE training actually distributes: pair counting is the parallel
    * part, the merge election is vocab-sized. The `iters` merge rows
    * come back as a local relation, and the vocabulary checkpoints
    * are released ([[Dedup.finishLocal]]).
    *
    * Merge application uses non-overlapping left-to-right string
    * replace of " l r " — back-to-back occurrences ("a b a b") leave
    * the second pair unmerged within that iteration because the match
    * consumes its trailing sentinel space. Deterministic, engine-
    * portable (any replace() has these semantics), and self-correcting
    * (the survivor is still a candidate next iteration); part of the
    * operator's contract rather than a claim of textbook-BPE fidelity.
    */
  def bpeMerges(df: DataFrame, iters: Int = 3,
                textCol: String = "text"): DataFrame = {
    require(iters >= 1)
    val words = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("word"), col("wc"), spacedChars(col("word")).as("syms"))
      .localCheckpoint()
    var vocabs = Seq(words)
    var merges = Seq.empty[DataFrame]
    (1 to iters).foreach { it =>
      val counts = vocabs.last
        .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
      val best = counts
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .localCheckpoint()
      merges = merges :+ best.select(lit(it.toLong).as("iter"), col("l"),
        col("r"), concat(col("l"), col("r")).as("merged"), col("cnt"))
      vocabs :+= vocabs.last.crossJoin(broadcast(best.select(
          col("l").as("_l"), col("r").as("_r"))))
        .select(col("word"), col("wc"),
          replace(col("syms"),
            concat(lit(" "), col("_l"), lit(" "), col("_r"), lit(" ")),
            concat(lit(" "), col("_l"), col("_r"), lit(" "))).as("syms"))
        .localCheckpoint()
    }
    val out = Dedup.finishLocal(
      merges.reduce(_ union _).orderBy(col("iter")), df)
    Dedup.release(vocabs: _*)
    out
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public method):
    * score every document by how much its hashed-bigram distribution
    * looks like a target corpus vs the full source corpus. Feature =
    * hashed token bigram mod `buckets` — `hash` is the pluggable
    * `HashScheme` (FastHash/xxhash64 is the scale default; the
    * registered query passes OracleHash so DuckDB replicates the
    * whole pipeline bit-for-bit, at ~2× signature cost); distributions
    * are add-1-smoothed bucket frequencies; the per-feature log ratio
    * ln(pT(f)) − ln(pS(f)) is quantized ONCE to BIGINT micro-nats and
    * the per-doc weight is the integer sum of count·ratio — the q55
    * single-quantization-point convention, bit-identical cross-engine.
    *
    * Scale shape: one corpus shuffle builds the (doc, feature) count
    * contraction; the feature table is `buckets` rows (vs 100 TB of
    * text) and comes back as a broadcast join; totals are a 1-row
    * broadcast cross join. No collect, no per-doc vocabulary state.
    *
    * Output: (doc_id, n_bigrams, micro_weight) for EVERY input doc —
    * docs with < 2 tokens carry weight 0 via the left join. */
  def dsirWeights(df: DataFrame, targetPred: Column,
                  buckets: Int = 256,
                  hash: Dedup.HashScheme = Dedup.FastHash,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // bigrams via the codegen word_grams kernel (one JIT pass per row;
    // the HOF sequence/transform formulation runs interpreted per
    // element). Sub-2-token docs yield an empty array — explode drops
    // them, the final left join restores them with weight 0.
    val grams = df.select(col(idCol).as("id"),
        targetPred.as("is_target"),
        explode(graft.functions.TextFunctions.word_grams(
          lower(col(textCol)), 2)).as("bg"))
      .select(col("id"), col("is_target"),
        pmod(hash.one(col("bg")), lit(buckets.toLong)).as("f"))
    val docFeat = grams
      .groupBy(col("id"), col("is_target"), col("f"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feature table + weighted sum both read it
    val feat = docFeat.groupBy(col("f"))
      .agg(sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("ct"),
        sum(col("cnt")).as("cs"))
    val totals = feat.agg(sum(col("ct")).as("nt"), sum(col("cs")).as("ns"))
    val ratio = feat.crossJoin(broadcast(totals))
      .select(col("f"),
        round((log((col("ct") + 1d) / (col("nt") + buckets.toDouble))
          - log((col("cs") + 1d) / (col("ns") + buckets.toDouble)))
          * 1e6).cast("long").as("micro_lr"))
    val weights = docFeat.join(broadcast(ratio), "f")
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("micro_lr")).as("micro_weight"))
    df.select(col(idCol).as("id"))
      .join(weights, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("micro_weight"), lit(0L)).as("micro_weight"))
  }

  /** Top-k adjacent-bigram PMI (collocation mining): pmi(l,r) =
    * ln(p(l,r) / (p(l)·p(r))) over the corpus bigram/unigram
    * distributions, quantized ONCE to BIGINT micro-nats and ranked on
    * the quantized value so the top-k cut is integer-deterministic.
    * `minCount` suppresses the unstable low-count tail (classic PMI
    * failure mode: a pair seen once scores astronomically).
    *
    * Scale shape: two corpus contractions (unigram counts, bigram
    * counts via the codegen `word_grams` kernel), both
    * vocabulary-sized; the bigram table probe-joins the unigram table
    * twice — no forced broadcast, since vocabulary cardinality is
    * unbounded corpus-derived (AQE broadcasts when the build side
    * fits; otherwise both sides hash on an already-contracted key) —
    * and totals arrive as 1-row broadcasts. The final top-k is a
    * TakeOrderedAndProject, not a global sort. */
  def pmiBigrams(df: DataFrame, minCount: Long = 5, k: Int = 20,
                 textCol: String = "text"): DataFrame = {
    val uni = df
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals + two probe joins read it
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    val bg = df
      .select(explode(
        graft.functions.TextFunctions.word_grams(lower(col(textCol)), 2))
        .as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c_bg"))
    val nBg = bg.agg(sum(col("c_bg")).as("n_bg"))
    bg.filter(col("c_bg") >= minCount)
      .select(element_at(split(col("g"), " "), 1).as("l"),
        element_at(split(col("g"), " "), 2).as("r"), col("c_bg"))
      .join(uni.select(col("w").as("l"), col("c").as("c_l")), Seq("l"))
      .join(uni.select(col("w").as("r"), col("c").as("c_r")), Seq("r"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBg))
      .select(col("l"), col("r"), col("c_bg"),
        round(log((col("c_bg").cast("double") * col("n_uni") * col("n_uni"))
          / (col("n_bg").cast("double") * col("c_l") * col("c_r"))) * 1e6)
          .cast("long").as("micro_pmi"))
      .orderBy(col("micro_pmi").desc, col("l"), col("r"))
      .limit(k)
  }

  /** Sequence-packing efficiency histogram: bucket documents by token
    * length (`bucketWidth`-token buckets capped at `maxBucket`) and
    * report, per bucket, the padding a pad-to-`ctxLen` batching scheme
    * would waste vs the tokens kept — the standard pre-flight check
    * before choosing packed vs padded training batches. All-integer
    * arithmetic (floor divisions), map-side except one tiny
    * histogram aggregate. */
  def packingStats(df: DataFrame, ctxLen: Long = 128,
                   bucketWidth: Long = 16, maxBucket: Long = 7,
                   textCol: String = "text"): DataFrame =
    df.select(size(tokens(lower(col(textCol)))).cast("long").as("n"))
      .select(col("n"),
        expr(s"least(n div $bucketWidth, $maxBucket)").as("bucket"),
        when(col("n") === 0, 0L)
          .otherwise(expr(s"((n + $ctxLen - 1) div $ctxLen) * $ctxLen - n"))
          .as("pad"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        sum(col("pad")).as("n_pad"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("n_pad"),
        when(col("n_tokens") + col("n_pad") === 0, 0L)
          .otherwise(expr("n_tokens * 1000000 div (n_tokens + n_pad)"))
          .as("micro_efficiency"))

  /** RM3-style pseudo-relevance feedback (Lavrenko & Croft's relevance
    * models, the Anserini/Indri default): run the seed query, harvest
    * the `fbTerms` most frequent NON-seed, non-stopword terms from the
    * top `fbDocs` feedback documents, and re-rank with the expanded
    * term set — the classical recall-boosting query expansion every
    * lexical retrieval stack ships. Expansion terms are elected by
    * total term frequency across the feedback docs, ties alphabetical,
    * single-char/bi-char tokens excluded — a fully deterministic,
    * replayable trajectory.
    *
    * Scale: pass 1 is [[bm25TopK]] (one corpus scan into a
    * TakeOrderedAndProject); term harvesting explodes ONLY the fbDocs
    * feedback documents (a left-semi join against a k-row frame); the
    * elected terms are a BOUNDED driver model (fbTerms strings — the
    * IVF-seed pattern) so pass 2 is again the literal-term codegen
    * scan, not an interpreted join. Emits the pass-2 top-k:
    * (doc_id, bm25_micro, n_terms, rank). */
  def rm3TopK(df: DataFrame, seedTerms: Seq[String], fbDocs: Int = 5,
              fbTerms: Int = 3, k: Int = 10,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fbDocs >= 1 && fbTerms >= 0 && k >= 1,
      "fbDocs/fbTerms/k must be positive")
    val first = bm25TopK(df, seedTerms, fbDocs, idCol = idCol,
      textCol = textCol)
    val fb = df.join(first.select(col(idCol)), Seq(idCol), "left_semi")
    val expansion = fb
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .filter(!col("tok").isInCollection(seedTerms) &&
        !col("tok").isInCollection(StopEn) && length(col("tok")) >= 3)
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    val w = Window.orderBy(col("bm25_micro").desc, col(idCol))
    bm25TopK(df, (seedTerms ++ expansion).distinct, k,
        idCol = idCol, textCol = textCol)
      .withColumn("rank", row_number().over(w).cast("long"))
      .orderBy(col("rank"))
  }

  /** Quality-threshold retention curve — survivors and tokens
    * retained at each candidate quality cutoff, one row per point
    * (the "how much data does each quality bar cost" table a curation
    * run reads next to the calibration gate: ECE says whether the
    * score's VALUES can be trusted, this says what each cutoff keeps;
    * together they price a threshold). One [[withQuality]] pass,
    * pinned; each point is arithmetic over the skinny (q10k,
    * n_tokens) frame, and the points come back as a local relation
    * with the pinned frame released. Emits (threshold_micro,
    * n_survivors, survivor_share_micro, tokens_retained,
    * token_share_micro) ascending — both counts non-increasing by
    * construction. */
  def qualityThresholdSweep(df: DataFrame, thresholdsMicro: Seq[Long],
                            textCol: String = "text"): DataFrame = {
    require(thresholdsMicro.nonEmpty &&
      thresholdsMicro == thresholdsMicro.sorted &&
      thresholdsMicro.distinct == thresholdsMicro,
      "thresholdsMicro must be distinct and ascending")
    val scored = withQuality(df, textCol)
      .select(expr("CAST(round(quality * 1000000) AS BIGINT)").as("qm"),
        col("n_tokens"))
      .localCheckpoint(true)
    val totals = scored.agg(count(lit(1)).as("_n"),
      sum(col("n_tokens")).as("_t"))
    val sweep = thresholdsMicro.map { t =>
      scored.filter(col("qm") >= t)
        .agg(count(lit(1)).as("n_survivors"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_retained"))
        .crossJoin(broadcast(totals))
        .select(lit(t).as("threshold_micro"), col("n_survivors"),
          expr("n_survivors * 1000000 div greatest(_n, 1)")
            .as("survivor_share_micro"),
          col("tokens_retained"),
          expr("tokens_retained * 1000000 div greatest(_t, 1)")
            .as("token_share_micro"))
    }.reduce(_.unionAll(_)).orderBy(col("threshold_micro"))
    Dedup.finishLocal(sweep, df)
  }

  /** Operating-point advisor over a measured [[qualityThresholdSweep]]
    * frame — the decision the retention curve exists to inform (the
    * nearDupThresholdAdvisor pattern on the quality dial): the token
    * budget caps what a training run can consume, so among thresholds
    * whose measured tokens_retained fits `tokenBudget`, take the
    * SMALLEST (the least aggressive bar that fits — retention is
    * monotone non-increasing in the threshold, so the smallest
    * qualifying bar keeps the most data). If none fit, fall back to
    * the largest threshold (fewest tokens — degraded mode must still
    * pick something; n_qualifying = 0 is the alarm). Emits one row:
    * (chosen_threshold_micro, n_survivors, tokens_retained,
    * budget_tokens, n_candidates, n_qualifying).
    *
    * Scale: arithmetic over the ≤|thresholds| sweep frame; the
    * measurement cost lives in the sweep. */
  def qualityThresholdAdvisor(sweep: DataFrame,
                              tokenBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ok = (col("tokens_retained") <= tokenBudget).cast("long")
    // qualifying points rank by threshold ASC; non-qualifying by
    // tokens_retained ASC (least overshoot first), threshold tie-break
    val w = Window.orderBy(col("ok").desc,
      when(col("ok") === 1L, col("threshold_micro"))
        .otherwise(col("tokens_retained")).asc,
      col("threshold_micro").asc)
    sweep.withColumn("ok", ok)
      .withColumn("n_candidates", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_qualifying", sum(col("ok")).over(
        Window.partitionBy(lit(1))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("threshold_micro").as("chosen_threshold_micro"),
        col("n_survivors"), col("tokens_retained"),
        lit(tokenBudget).as("budget_tokens"),
        col("n_candidates"), col("n_qualifying"))
  }

  /** Packing-efficiency operating curve — [[packingStats]]'s padding
    * waste measured at EACH candidate context length, one row per
    * point (the table that picks ctx_len for a packing run: longer
    * contexts amortize attention overhead but pay more tail padding
    * per document; the knee is corpus-length-distribution-specific
    * and must be measured). One corpus tokenize pass, pinned; each
    * point is arithmetic over the skinny token-count frame. Emits
    * (ctx_len, n_docs, n_tokens, n_pad, micro_efficiency) ascending. */
  def packingEfficiencySweep(df: DataFrame, ctxLens: Seq[Long],
                             textCol: String = "text"): DataFrame = {
    require(ctxLens.nonEmpty && ctxLens == ctxLens.sorted &&
      ctxLens.distinct == ctxLens && ctxLens.head > 0,
      "ctxLens must be distinct, ascending, positive")
    val toks = df
      .select(size(tokens(lower(col(textCol)))).cast("long").as("n"))
      .localCheckpoint(true)
    ctxLens.map { c =>
      toks.select(col("n"),
          when(col("n") === 0, 0L)
            .otherwise(expr(s"((n + $c - 1) div $c) * $c - n")).as("pad"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          sum(col("pad")).as("n_pad"))
        .select(lit(c).as("ctx_len"), col("n_docs"), col("n_tokens"),
          col("n_pad"),
          when(col("n_tokens") + col("n_pad") === 0, 0L)
            .otherwise(expr("n_tokens * 1000000 div (n_tokens + n_pad)"))
            .as("micro_efficiency"))
    }.reduce(_.unionAll(_)).orderBy(col("ctx_len"))
  }

  /** Truncation-loss operating curve — the OTHER half of the
    * [[packingEfficiencySweep]] decision: q250 prices PACKING (padding
    * waste when every document is kept whole); this table prices the
    * TRUNCATE-at-ctx_len alternative (tokens cut when each document is
    * clipped to one window). Read together they are the
    * pack-vs-truncate decision every pretraining prep makes per
    * context length. Per candidate: (ctx_len, n_docs, n_docs_over —
    * documents losing content, n_tokens, n_tokens_lost, loss_micro).
    *
    * Determinism: token counts are exact integers off ONE pinned
    * tokenize pass (the q250 convention); every emitted column is
    * integer arithmetic.
    *
    * Scale: one tokenize scan (localCheckpoint pins it), then
    * |ctxLens| arithmetic-only aggregates over the 1-column count
    * frame — each a map-side-combined single shuffle of one row. */
  def truncationLossSweep(df: DataFrame, ctxLens: Seq[Long],
                          textCol: String = "text"): DataFrame = {
    require(ctxLens.nonEmpty && ctxLens == ctxLens.sorted &&
      ctxLens.distinct == ctxLens && ctxLens.head > 0,
      "ctxLens must be distinct, ascending, positive")
    val toks = df
      .select(size(tokens(lower(col(textCol)))).cast("long").as("n"))
      .localCheckpoint(true)
    ctxLens.map { c =>
      toks.select(col("n"), greatest(col("n") - c, lit(0L)).as("lost"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("lost") > 0L).cast("long")).as("n_docs_over"),
          sum(col("n")).as("n_tokens"),
          sum(col("lost")).as("n_tokens_lost"))
        .select(lit(c).as("ctx_len"), col("n_docs"), col("n_docs_over"),
          col("n_tokens"), col("n_tokens_lost"),
          expr("n_tokens_lost * 1000000 div greatest(n_tokens, 1)")
            .as("loss_micro"))
    }.reduce(_.unionAll(_)).orderBy(col("ctx_len"))
  }

  /** Strided context-window chunking — the standard "cut documents
    * into `ctxLen`-token windows with `overlap`-token overlap"
    * pretraining prep. One row per chunk: (id, chunk_idx, start_tok,
    * n_tokens_chunk, chunk_md5) where chunk_md5 fingerprints the
    * space-joined token slice (so correctness checks cover CONTENT,
    * not just offsets). Chunk starts step by ctxLen − overlap while
    * they fall inside the document; the tail chunk is partial.
    *
    * Map-side only: tokenize → sequence/explode → slice — no shuffle,
    * fuses into the feeding scan at corpus scale. */
  def chunkWindows(df: DataFrame, ctxLen: Int = 128, overlap: Int = 32,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(ctxLen > overlap && overlap >= 0, "need ctxLen > overlap >= 0")
    val stride = ctxLen - overlap
    df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("t"))
      .select(col("id"), col("t"), size(col("t")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("id"), col("t"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride.toLong)))
          .as("s"))
      .select(col("id").as(idCol),
        expr(s"s div $stride").as("chunk_idx"),
        col("s").as("start_tok"),
        least(col("n") - col("s"), lit(ctxLen.toLong))
          .as("n_tokens_chunk"),
        md5(array_join(slice(col("t"), (col("s") + 1).cast("int"),
          least(col("n") - col("s"), lit(ctxLen.toLong)).cast("int")),
          " ")).as("chunk_md5"))
  }

  /** Heaps-law vocabulary-growth curve: at each id-ordered corpus
    * prefix (`pcts` percent of the max doc id) report docs, running
    * token count, and DISTINCT vocabulary size — the standard check
    * that a corpus keeps contributing new types rather than recycling
    * a template vocabulary (sub-Heaps growth = duplication smell).
    *
    * Scale shape: the corpus explodes ONCE into a (token, first_id)
    * contraction (vocabulary-sized) and a (doc, token-count) frame;
    * every prefix statistic is then a conditional sum inside two tiny
    * aggregates — one pass per frame for ALL cutoffs, not a scan per
    * cutoff. The max-id frame arrives as a 1-row broadcast. */
  def vocabGrowth(df: DataFrame, pcts: Seq[Int] = Seq(1, 2, 5, 10, 25, 50, 100),
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100))
    val mx = df.agg(max(col(idCol)).as("mx"))
    val docTok = df.select(col(idCol).as("id"),
      size(tokens(lower(col(textCol)))).cast("long").as("nt"))
    val firstTok = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(min(col("id")).as("first_id"))
    val dAggs = pcts.flatMap { p => Seq(
      sum(when(expr(s"id <= mx * $p div 100"), 1L).otherwise(0L))
        .as(s"nd_$p"),
      sum(when(expr(s"id <= mx * $p div 100"), col("nt")).otherwise(0L))
        .as(s"nt_$p"))
    } :+ max(col("mx")).as("mx")
    val vAggs = pcts.map { p =>
      sum(when(expr(s"first_id <= mx * $p div 100"), 1L).otherwise(0L))
        .as(s"nv_$p")
    }
    val dstats = docTok.crossJoin(broadcast(mx)).agg(dAggs.head, dAggs.tail: _*)
    val vstats = firstTok.crossJoin(broadcast(mx)).agg(vAggs.head, vAggs.tail: _*)
    dstats.crossJoin(vstats)
      .select(explode(array(pcts.map(p => struct(
        lit(p.toLong).as("pct"),
        expr(s"mx * $p div 100").as("cutoff_id"),
        col(s"nd_$p").as("n_docs"),
        col(s"nt_$p").as("n_tokens"),
        col(s"nv_$p").as("n_vocab"))): _*)).as("r"))
      .select(col("r.pct").as("pct"), col("r.cutoff_id").as("cutoff_id"),
        col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"),
        col("r.n_vocab").as("n_vocab"))
  }

  /** Token-boundary separator for `bpeEncode`'s whole-text symbol
    * string: a control char that no trained merge pair can contain, so
    * merges can never fire across token boundaries. */
  private val BpeSep = "\u0001"

  /** Apply a learned BPE merge list: encode each document with the
    * `iters` merges of a `bpeMerges` result (applied in training
    * order) and report the token count before and after —
    * (id, n_tokens, n_bpe_tokens). The whole document is encoded as
    * ONE spaced symbol string with control-char separators between
    * tokens (see `BpeSep`), so the per-merge application is a single
    * codegen `replace` over the row rather than a per-token lambda
    * loop; each merge joins in as a broadcast single row (the same
    * no-collect election pattern as training). Merge application
    * inherits `bpeMerges`' non-overlapping replace contract. */
  def bpeEncode(df: DataFrame, merges: DataFrame, iters: Int,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    bpeCounts(bpeEncodeSymbols(df, merges, iters, idCol, textCol), idCol)

  /** Token-count projection over a [[bpeEncodeSymbols]] frame —
    * (id, n_tokens, n_bpe_tokens); split out so a session can
    * materialize the symbol stream ONCE and serve both the count
    * consumers (fertility audits) and the symbol consumers
    * ([[bpeVocabUsage]]) from it. */
  def bpeCounts(encoded: DataFrame,
                idCol: String = "doc_id"): DataFrame =
    // split counts symbols AND the n_tokens-1 separators
    encoded.select(col(idCol), col("n_tokens"),
      when(col("n_tokens") === 0, 0L)
        .otherwise(size(split(trim(col("syms")), " ")).cast("long")
          - (col("n_tokens") - 1)).as("n_bpe_tokens"))

  /** The encode fold of [[bpeEncode]] with the symbol stream kept:
    * (id, n_tokens, syms) where `syms` is the sentinel-spaced encoded
    * string — the shared tier under [[bpeCounts]] (counts) and
    * [[bpeVocabUsage]] (per-symbol stats). */
  def bpeEncodeSymbols(df: DataFrame, merges: DataFrame, iters: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val spacedTok = (t: Column) =>
      array_join(filter(split(t, ""), c => c =!= lit("")), " ")
    val enc0 = df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      concat(lit(" "),
        array_join(transform(toks, spacedTok), s" $BpeSep "),
        lit(" ")).as("syms"))
    (1 to iters).foldLeft(enc0) { (acc, i) =>
      // limit(1) is a no-op (iter is the election key, one row each)
      // but restores maxRows ≤ 1 through the union+filter, so the
      // broadcast nested-loop join is PROVABLY single-row in the plan.
      // LEFT join, not crossJoin: a missing iteration (degenerate
      // corpus with no pairs left, or iters beyond the trained merge
      // count) must pass documents through unchanged, not annihilate
      // the frame against an empty build side.
      val m = merges.filter(col("iter") === i)
        .select(col("l").as("_l"), col("r").as("_r")).limit(1)
      acc.join(broadcast(m), lit(true), "left")
        .select(col(idCol), col("n_tokens"),
          when(col("_l").isNull, col("syms"))
            .otherwise(replace(col("syms"),
              concat(lit(" "), col("_l"), lit(" "), col("_r"), lit(" ")),
              concat(lit(" "), col("_l"), col("_r"), lit(" "))))
            .as("syms"))
    }
  }

  /** Vocabulary-utilization audit over a [[bpeEncodeSymbols]] frame:
    * the top-`topK` vocabulary symbols by corpus usage with each symbol's
    * share of ALL symbol occurrences — the tokenizer-health readout
    * that catches a degenerate vocabulary (one symbol absorbing the
    * corpus = merges overfit to boilerplate; a flat tail of
    * single-use symbols = wasted vocab slots). Shares are integer
    * micros against the full symbol total, so the rows reconcile.
    *
    * Emits (rank, symbol, n_uses, share_micro), rank dense from 1.
    *
    * Scale: one explode of the encoded symbol stream into a hash
    * aggregate keyed by symbol (vocab-cardinality groups), a
    * TakeOrderedAndProject top-k — never a global sort — and the
    * 1-row total crossJoined back broadcast. */
  def bpeVocabUsage(encoded: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "topK must be positive")
    val counts = encoded
      .filter(col("n_tokens") > 0)
      .select(explode(split(trim(col("syms")), " ")).as("symbol"))
      .filter(col("symbol") =!= BpeSep && col("symbol") =!= "")
      .groupBy(col("symbol")).agg(count(lit(1)).as("n_uses"))
    val tot = counts.agg(sum(col("n_uses")).as("_tot"))
    // the unpartitioned rank window runs over the ALREADY-limited
    // top-k frame (contracted input), never the vocabulary
    counts.orderBy(col("n_uses").desc, col("symbol")).limit(topK)
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_uses").desc, col("symbol"))))
      .select(col("rank"), col("symbol"), col("n_uses"),
        expr("n_uses * 1000000 div greatest(_tot, 1)").as("share_micro"))
      .orderBy(col("rank"))
  }

  /** BM25 retrieval: top-k documents for a fixed query-term set
    * (Robertson/Sparck-Jones with the Lucene always-positive idf,
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`).
    *
    * Scale shape: the query terms are a tiny literal set, so the token
    * stream is filtered to query-term hits BEFORE the (doc, term) tf
    * aggregate — only matching tokens ever shuffle, the corpus dies
    * map-side. Document length is a per-row codegen count (no second
    * corpus pass); avgdl and N arrive as a 1-row broadcast; the df
    * table is at most |terms| rows and broadcasts. The final top-k is
    * a TakeOrderedAndProject, never a global sort.
    *
    * Determinism contract: the per-(doc, term) score is quantized ONCE
    * to BIGINT micro-points (round(score·10⁶)); the per-doc total is
    * then an integer sum, so the result — and the (score desc, doc_id)
    * rank — is bit-identical cross-engine regardless of float summation
    * order (the q55 integer-quantization convention). */
  def bm25TopK(df: DataFrame, terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // For a literal query-term set NOTHING token-shaped needs to move:
    // per-term tf is one codegen token_set_hits({term}) probe per row
    // (no explode, no interpreted HOF — the first formulation's
    // explode+filter cost 45 s/1M docs; this is one corpus scan), the
    // (N, avgdl, df_t) globals are ONE aggregate with |terms|
    // conditional sums, broadcast back as a single row, and scoring is
    // map-side arithmetic into a TakeOrderedAndProject.
    val lowered = lower(col(textCol))
    val tfCols = terms.map(t => graft.functions.TextFunctions
      .token_set_hits(lowered, Seq(t)).cast("long").as(s"tf_$t"))
    val base = df.select(
      (col(idCol).as("id") +: tokenCount(col(textCol)).cast("long").as("dl")
        +: tfCols): _*)
    val aggs = sum(col("dl")).as("toktot") +:
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val globals = base.agg(count(lit(1)).as("n"), aggs: _*)
    val avgdl = col("toktot").cast("double") / col("n")
    def idf(t: String) = log(lit(1.0) +
      (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
    def termScore(t: String) = {
      val tf = col(s"tf_$t")
      when(tf > 0,
        round(idf(t) * tf * (lit(k1) + 1.0) /
            (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
          * 1e6, 0).cast("long"))
        .otherwise(lit(0L))
    }
    base.crossJoin(broadcast(globals))
      .select(col("id").as(idCol),
        terms.map(termScore).reduce(_ + _).as("bm25_micro"),
        terms.map(t => (col(s"tf_$t") > 0).cast("long")).reduce(_ + _)
          .as("n_terms"))
      .filter(col("n_terms") > 0)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(k)
  }

  /** Zipf-fit slope per group: least-squares slope of ln(freq) on
    * ln(rank) over each group's top-N tokens — the classic corpus
    * health check (natural text ≈ −1; templated/spammy shards drift).
    *
    * Scale shape: the regression runs on the (group, token) frequency
    * CONTRACTION (one ordinary hash aggregate with map-side partials),
    * so the rank window sees at most |vocab| rows per group, never the
    * corpus; everything after the top-N filter is constant-size.
    *
    * Determinism contract: ln(rank) and ln(freq) are quantized ONCE to
    * BIGINT micro-units; the normal-equation sums are then exact
    * integer arithmetic (top-N bounds them far below overflow:
    * N·(ln 10⁶·10⁶)² ≈ 10¹⁶ per term pair) and the single closing
    * division is deterministic, so the rounded slope is bit-identical
    * cross-engine. */
  def zipfSlope(df: DataFrame, topN: Int = 30,
                groupCol: String = "lang",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // word_grams(·, 1), not tokens(·): the codegen kernel — the
    // split+filter HOF runs interpreted per token and dominated the
    // 1M-doc probe (the q23 stopword lesson again)
    val freq = df.select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions
          .word_grams(lower(col(textCol)), 1)).as("token"))
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val rk = Window.partitionBy(col("grp"))
      .orderBy(col("freq").desc, col("token"))
    val top = freq.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= topN)
      .withColumn("x", round(log(col("rank").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("y", round(log(col("freq").cast("double")) * 1e6, 0).cast("long"))
    top.groupBy(col("grp").as(groupCol))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("zipf_slope",
        round((col("n_points") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_points") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
      .select(col(groupCol), col("n_points"), col("zipf_slope"))
  }

  /** Per-document duplicated-n-gram coverage: the fraction of a doc's
    * DISTINCT word n-grams that occur in at least `minDocs` documents —
    * the per-doc "how much of me is boilerplate/copied" signal behind
    * suffix-style exact-substring dedup (Lee et al. 2022's decision
    * statistic, computed at n-gram granularity).
    *
    * Scale shape: per-doc distinct grams come from the codegen shingler
    * (one pass, map-side); grams shuffle as 60-bit hashes (8-byte keys,
    * never strings) into an ordinary count aggregate with map-side
    * partials; the per-doc roll-up joins the exploded gram stream to
    * the duplicated-gram contraction on the hash key — both sides are
    * already partitioned by that key from their aggregates, so the join
    * adds no exchange. Doc totals ride the same codegen array (`size`),
    * costing no second corpus pass.
    *
    * All outputs are integers plus one trunc4 ratio of integers —
    * bit-identical cross-engine. md5Hash60 is the oracle-replicable
    * hash scheme (xxhash64 stays the scale default elsewhere). */
  def dupGramCoverage(df: DataFrame, n: Int = 3, minDocs: Int = 2,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val sh = graft.functions.TextFunctions.word_shingles(col(textCol), n)
    // the exploded hash stream feeds BOTH the dup aggregate and the
    // join-back — checkpoint it once (16 bytes/row) instead of running
    // the shingler over the corpus twice (the q54 two-consumer
    // convention); per-doc totals come map-side from the array length,
    // costing no shuffle
    val exploded = df
      .select(col(idCol).as("id"), explode(sh).as("g"))
      .select(col("id"), md5Hash60(col("g")).as("h"))
      .localCheckpoint()
    val dup = exploded.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    // shuffle_hash PINNED: both sides are corpus-derived and unbounded,
    // so a stats-misestimate broadcast of either is the q17-at-10×
    // failure shape; the hash build holds only the dup contraction's
    // per-partition slice
    val perDoc = exploded
      .join(dup.select(col("h")).hint("shuffle_hash"), "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup"))
    df.select(col(idCol).as("id"),
        size(sh).cast("long").as("n_grams"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(trunc4(coalesce(col("n_dup"), lit(0L)).cast("double")
            / col("n_grams"))).as("dup_coverage"))
  }

  /** Token-distribution drift between two corpus snapshots, per group:
    * Jensen-Shannon divergence (natural log; 0 = identical, ln 2 =
    * disjoint) between the unigram distributions of snapshot 0 and
    * snapshot 1 within each group — the standard "did the crawl shift
    * under me" monitor run between corpus versions, far more sensitive
    * than doc-level diffing (q108) because it sees WHAT changed inside
    * replaced text, not how many rows changed.
    *
    * `snapshotCol` must be 0/1. Output: (grp, n_tokens_0, n_tokens_1,
    * jsd_micro) — the divergence micro-quantized after an exact-integer
    * contribution sum, following the q107 convention: each token's
    * contribution 0.5·p·ln(p/m) + 0.5·q·ln(q/m) is nano-quantized to a
    * BIGINT before summing, so the reduce order Spark picks cannot
    * change the hash.
    *
    * Scale: one (grp, token, snapshot) count aggregate contracts the
    * token stream map-side; the JSD sum re-aggregates the contraction
    * (≤ |vocab| × groups rows). No join — the two snapshots pivot into
    * one row per (grp, token) via conditional sums. */
  def tokenDrift(df: DataFrame, snapshotCol: Column,
                 grpCol: String = "lang",
                 textCol: String = "text"): DataFrame = {
    val counts = df
      .select(col(grpCol).as("grp"), snapshotCol.cast("int").as("snap"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("grp"), col("token"))
      .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("snap") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = Window.partitionBy(col("grp"))
    val contrib = counts
      .withColumn("t0", sum(col("c0")).over(totals))
      .withColumn("t1", sum(col("c1")).over(totals))
      .withColumn("p", col("c0").cast("double") / col("t0"))
      .withColumn("q", col("c1").cast("double") / col("t1"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("term",
        when(col("p") > 0, col("p") * log(col("p") / col("m")) / 2)
          .otherwise(lit(0.0)) +
        when(col("q") > 0, col("q") * log(col("q") / col("m")) / 2)
          .otherwise(lit(0.0)))
      .withColumn("term_nano", round(col("term") * 1e9).cast("long"))
    contrib
      .groupBy(col("grp"))
      .agg(max(col("t0")).as("n_tokens_0"), max(col("t1")).as("n_tokens_1"),
        sum(col("term_nano")).as("jsd_nano"))
      .select(col("grp"), col("n_tokens_0"), col("n_tokens_1"),
        (round(col("jsd_nano") / 1e3)).cast("long").as("jsd_micro"))
      .orderBy(col("grp"))
  }

  /** Pairwise vocabulary overlap between document groups (languages,
    * domains, snapshots): for every group pair, both vocabulary sizes,
    * the shared-type count, and the Jaccard overlap — the corpus-mix
    * diagnostic that says which "languages" are really transliterated
    * twins, whether a domain is vocabulary-isolated, and how much
    * cross-group token sharing a shared tokenizer can exploit.
    *
    * Determinism: set sizes and intersections are exact integer counts
    * over DISTINCT (group, lowercased token) pairs; the Jaccard is an
    * integer micro floor-division.
    *
    * Scale: ONE corpus tokenization contracts to the distinct
    * (group, token) type table (checkpointed — it feeds the size
    * aggregate and BOTH sides of the pair join, structurally different
    * consumers, the q137 lesson); the pair join is TOKEN-keyed, so a
    * token present in g groups yields g(g−1)/2 pair rows — bounded by
    * |groups|² per token, never a doc-pair explosion; group sizes
    * broadcast back onto the |groups|²-row result. */
  def vocabOverlap(df: DataFrame, groupCol: String = "lang",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val types = df
      .select(col(groupCol).as("g"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .distinct()
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val sizes = types.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val a = types.select(col("g").as("g_a"), col("token"))
    val b = types.select(col("g").as("g_b"), col("token"))
    a.join(b, Seq("token"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("g").as("g_a"), col("n").as("n_a"))),
        Seq("g_a"))
      .join(broadcast(sizes.select(col("g").as("g_b"), col("n").as("n_b"))),
        Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("n_common * 1000000 div (n_a + n_b - n_common)")
          .as("jaccard_micro"))
      .orderBy(col("g_a"), col("g_b"))
  }
}
