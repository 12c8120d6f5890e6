package graft

import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Similarity, TextAnalysis}
import graft.ops.Aggregations

/** Dev utility: stress the scale-path operators on replicated fixtures
  * (documents ×REP with perturbed text, events ×REP with shifted time)
  * to catch memory/codegen/shuffle pathologies the 500-row fixtures
  * can't. `runMain graft.ScaleProbe [sfDir] [docReps] [eventReps]`.
  * Prints one timing line per probe; not part of the driver contract.
  * An optional 4th arg runs only probes whose name contains it.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docReps = args.lift(1).map(_.toInt).getOrElse(200)
    val eventReps = args.lift(2).map(_.toInt).getOrElse(100)
    val only = args.lift(3)
    val spark = GraftSession.local("graft-scale-probe")

    def timed(name: String)(f: => Long): Unit =
      if (only.forall(_.split(",").exists(name.contains))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale] $name%-28s rows=$n%-10d ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }

    // Probe results are CONSUMED via a checksum over every output
    // column, never a bare count(): Catalyst prunes unreferenced
    // aggregate expressions (and whole row-preserving join branches)
    // under count(*), so counting times only a fragment of the
    // operator — measured 2× low on the reassembly-heavy probes and
    // 25× low on the multi-pass dedup. The per-row xxhash64 is noise
    // next to the operators under test.
    // bit_xor, not sum: summing ~10⁶ uniform 64-bit hashes overflows
    // Long under ANSI arithmetic
    def consume(df: org.apache.spark.sql.DataFrame): Long = {
      df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("checksum"))
        .collect().head.getLong(0)
    }

    val docs = Tables.documents(spark, sfDir)
      .crossJoin(spark.range(docReps).toDF("rep"))
      .select(
        (col("doc_id") * docReps + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
    val emb = Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(docReps).toDF("rep"))
      .select(
        (col("vec_id") * docReps + col("rep")).as("vec_id"),
        col("embedding"))
    val events = Tables.events(spark, sfDir)
      .crossJoin(spark.range(eventReps).toDF("rep"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        expr("timestampadd(HOUR, CAST(rep AS INT), ts)").as("ts"))

    timed(s"minhash_signatures x$docReps") {
      consume(Dedup.minhashSignatures(docs))
    }
    // the replicated corpus is adversarially duplicate-heavy (every doc
    // has docReps-1 near-identical copies) — exercise the degenerate-
    // bucket guards the way a real pipeline would after exact dedup
    timed(s"minhash_pairs x$docReps") {
      consume(Dedup.minhashPairs(docs, 0.5, maxBucketSize = 1000))
    }
    timed(s"simhash_pairs x$docReps") {
      consume(Dedup.simhashPairs(docs, 3, maxBucketSize = 1000))
    }
    // exact jaccard on the replicated corpus is degenerate BY DESIGN
    // (every shingle is shared by all docReps copies, so every posting
    // list is >= docReps): the maxPostings guard must neutralize the
    // quadratic fan-out and let the probe complete
    timed(s"jaccard_capped x$docReps") {
      consume(Dedup.jaccardPairs(docs, 0.5, maxPostings = 150))
    }
    // the full exact-survivor dedup flow: LSH candidates -> connected
    // components -> min-id survivors
    timed(s"cc_dedup x$docReps") {
      consume(Dedup.dedupCorpusExact(docs, 0.5, maxBucketSize = 300))
    }
    timed(s"ann_ivf x$docReps") {
      consume(Similarity.ivfTopK(emb,
        emb.filter(col("vec_id") < 10), 5, 64, 4))
    }
    // curation tier at 1M docs: the replicated corpus makes every base
    // shingle/chunk corpus-frequent, so these exercise the broadcast
    // probe sets and the reassembly shuffle at adversarial density
    timed(s"curation_decontam x$docReps") {
      consume(Curation.contamination(
        docs.filter(col("doc_id") % 9973 =!= 0),
        docs.filter(col("doc_id") % 9973 === 0)))
    }
    timed(s"curation_boilerplate x$docReps") {
      consume(Curation.stripBoilerplate(docs, width = 8, maxDocs = 2))
    }
    timed(s"curation_mix x$docReps") {
      consume(Curation.mixSample(
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20)))),
        (0 until 20).map(i =>
          s"src$i" -> (if (i < 5) 3 else if (i < 10) 2 else 1)).toMap))
    }
    timed(s"curation_repetition x$docReps") {
      consume(TextAnalysis.repetitionStats(docs))
    }
    // line dedup at adversarial density: every chunk recurs ~docReps
    // times, so nearly the whole corpus is stripped — worst case for
    // the first-occurrence election window on the chunk hash
    timed(s"curation_line_dedup x$docReps") {
      consume(Curation.dedupLines(docs, width = 8))
    }
    // the width ladder at the same adversarial density: the 128-token
    // pass strips most replicas as whole-doc chunks, so the narrower
    // passes see an already-shrunk corpus
    timed(s"curation_multiwidth_dedup x$docReps") {
      consume(Curation.dedupLinesMultiWidth(docs))
    }
    // bloom probe at saturation: the replicated benchmark split still
    // builds a fixed 2^16-bit filter; probes are k broadcast joins
    timed(s"curation_bloom x$docReps") {
      consume(Curation.bloomContamination(
        docs.filter(col("doc_id") % 9973 =!= 0),
        docs.filter(col("doc_id") % 9973 === 0)))
    }
    // continuous-ingestion dedup: half the corpus plays the accumulated
    // fingerprint store, the other half the arriving batch — the anti
    // join moves only 16-byte hashes + ids
    timed(s"incremental_dedup x$docReps") {
      consume(Dedup.dedupAgainstStore(
        docs.filter(col("doc_id") % 2 === 1),
        Dedup.fingerprints(docs.filter(col("doc_id") % 2 === 0))))
    }
    // the q64 composition end-to-end, via the SAME Curation.pipeline
    // the registered query runs — one plan over the 1M-doc corpus.
    // Mix-hash substitution: the probe keeps the FastHash library
    // default where q64 passes OracleHash (md5-prefix, ~2× costlier,
    // needed only for cross-engine verification) — this times the plan
    // a production corpus would run, not the oracle-parity variant.
    timed(s"curation_pipeline x$docReps") {
      val src = docs.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20))))
      consume(Curation.pipeline(
        src.filter(col("doc_id") % 9973 =!= 0),
        src.filter(col("doc_id") % 9973 === 0),
        (0 until 20).map(i =>
          s"src$i" -> (if (i < 5) 3 else if (i < 10) 2 else 1)).toMap))
    }
    timed(s"sliding_revenue x$eventReps") {
      consume(Aggregations.slidingRevenue(events.select(
        col("ts").as("order_ts"), col("event_type").as("product"),
        col("value").as("line_amount"))))
    }

    // behavioral tier at replicated-event scale: the funnel chains
    // user-keyed joins over checkpointed step frames; retention's wide
    // work is proportional to distinct user-days, not raw events
    timed(s"funnel x$eventReps") {
      consume(graft.ops.Behavior.funnel(events,
        Seq("view", "click", "purchase"), horizonSec = 86400L))
    }
    timed(s"retention x$eventReps") {
      consume(graft.ops.Behavior.retention(events))
    }
    // inference tier: map-side scoring over the 1M-doc corpus
    timed(s"linear_score x$docReps") {
      consume(TextAnalysis.hashedLinearScore(docs))
    }
    // BPE training at corpus scale: the word count is the only
    // corpus-sized stage; the replicated suffix tokens (" repN") blow
    // the vocab up to ~docReps extra entries, the merge loop stays
    // vocab-sized
    timed(s"bpe_merges x$docReps") {
      consume(TextAnalysis.bpeMerges(docs, iters = 3))
    }
    // semantic dedup: training + assignment broadcast k centroids; the
    // within-cluster self-join is the measured risk. Reps are CAPPED
    // (name carries the real multiplier): the replicated corpus has
    // only 5k distinct directions, so clusters fill with exact copies
    // and the in-cluster pair count grows quadratically in reps — the
    // op's documented contract is "size k to the corpus / pre-split
    // mega-clusters", which a 200× pure-duplicate blowup deliberately
    // violates. 20× (100k vectors, k=256 → ~400/cluster) probes the
    // real plan shape at adversarial-but-bounded density.
    val semReps = math.min(docReps, 20)
    val embSem = Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(semReps).toDF("rep"))
      .select((col("vec_id") * semReps + col("rep")).as("vec_id"),
        col("embedding"))
    timed(s"semantic_dedup x$semReps") {
      consume(Similarity.semanticDedup(embSem, k = 256, iters = 1,
        tau = 0.95))
    }

    // link-graph tier: ~2M synthetic edges over the 1M-doc id space;
    // 3 integer-exact iterations (join on src + agg on dst per round)
    timed(s"pagerank x$docReps") {
      consume(graft.ext.LinkGraph.pageRank(
        graft.ext.LinkGraph.syntheticEdges(docs), iters = 3))
    }
    // domain quota at 1M docs: the window sees only the linked third
    timed(s"domain_quota x$docReps") {
      consume(Curation.domainQuota(
        Curation.injectSyntheticUrls(docs), k = 2))
    }

    // SCD2 at 10M change events: one user-keyed window exchange
    timed(s"scd2 x$eventReps") {
      consume(graft.ops.Scd.scd2(events, "user_id", "ts", "event_type",
        "event_id"))
    }
    // bucketized interval join: 10M facts vs per-day windows
    timed(s"interval_join x$eventReps") {
      val e = events.select(
        floor(unix_timestamp(col("ts"))).cast("long").as("ep"),
        col("value"))
      val w = e.select(floor(col("ep") / 86400).cast("long").as("window_id"))
        .distinct()
        .select(col("window_id"),
          (col("window_id") * 86400 + 43200).as("w_start"),
          (col("window_id") * 86400 + 50400).as("w_end"))
      consume(graft.ops.IntervalJoin.intervalJoin(e, w, "ep", "w_start",
        "w_end"))
    }

    timed(s"asof_join x$eventReps") {
      val purchases = events.filter(col("event_type") === "purchase")
      val signups = events.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("value"))
      consume(graft.ops.AsOfJoin.asofJoin(purchases, signups, "user_id", "ts",
        Seq("value")))
    }

    // ===== round-4 operators ===============================================
    // replicated corpus WITH the stratum columns (lang, source) for the
    // target-predicate / stratified ops
    val docsL = Tables.documents(spark, sfDir)
      .crossJoin(spark.range(docReps).toDF("rep"))
      .select((col("doc_id") * docReps + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"),
        col("lang"), col("source"))

    // DSIR: corpus → (doc, feature) contraction, 256-row broadcast back
    timed(s"dsir_weights x$docReps") {
      consume(TextAnalysis.dsirWeights(docsL, col("lang") === "en"))
    }
    // whole-corpus BPE encode (train + apply 3 merges, map-side replaces)
    timed(s"bpe_encode x$docReps") {
      val d = docs
      consume(TextAnalysis.bpeEncode(d,
        TextAnalysis.bpeMerges(d, iters = 3), iters = 3))
    }
    // shingle-keyed first-occurrence + per-doc roll-up at 1M docs
    timed(s"shingle_novelty x$docReps") {
      consume(Dedup.shingleNovelty(docs))
    }
    // two vocabulary contractions + broadcast probes
    timed(s"pmi_bigrams x$docReps") {
      consume(TextAnalysis.pmiBigrams(docs))
    }
    // pure map-side codegen kernel — per-row throughput check
    timed(s"char_entropy x$docReps") {
      consume(docs.select(col("doc_id"),
        graft.functions.TextFunctions.char_entropy(col("text")).as("ce"))
        .select(col("doc_id"), col("ce.n_chars"), col("ce.n_distinct"),
          col("ce.micro_entropy")))
    }
    timed(s"vocab_growth x$docReps") {
      consume(TextAnalysis.vocabGrowth(docsL))
    }
    timed(s"temperature_sample x$docReps") {
      consume(Curation.temperatureSample(docsL))
    }
    // 64M posexploded dims → one hash-aggregate with 9 conditional sums
    timed(s"random_projection x$docReps") {
      consume(Similarity.randomProject(emb))
    }
    // 2M-edge pair contraction + argmax-in-aggregate
    timed(s"inlink_stats x$docReps") {
      consume(graft.ext.LinkGraph.inLinkStats(
        graft.ext.LinkGraph.syntheticEdges(docs)))
    }
    timed(s"packing_stats x$docReps") {
      consume(TextAnalysis.packingStats(docs))
    }
    // three codegen regex passes + domain roll-up over 1M docs
    timed(s"pii_by_domain x$docReps") {
      val base = Curation.injectSyntheticUrls(
        Curation.injectSyntheticPii(docs))
      consume(Curation.scrubPii(Curation.withDomain(base))
        .groupBy(coalesce(col("domain"), lit("(none)")).as("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_emails")).as("e"),
          sum(col("n_phones")).as("p"), sum(col("n_keys")).as("k")))
    }
    // SCD2 history + midpoint time-travel read at 10M events
    timed(s"scd2_asof x$eventReps") {
      val hist = graft.ops.Scd.scd2(events, "user_id", "ts",
        "event_type", "event_id")
      val at = events.agg(expr(
        """(CAST(floor(unix_timestamp(min(ts))) AS BIGINT)
          | + CAST(floor(unix_timestamp(max(ts))) AS BIGINT)) div 2"""
          .stripMargin).as("at"))
      consume(graft.ops.Scd.asOf(hist, at))
    }

    // quality-weighted canonicalization: pair-gen + components + the
    // score election at 1M docs
    timed(s"quality_survivors x$docReps") {
      consume(Dedup.survivorsByScore(TextAnalysis.withQuality(docs),
        Dedup.coShinglePairs(docs, minShared = 2, maxPostings = 1000),
        col("quality")))
    }
    // strided chunking: map-side explode at 1M docs
    timed(s"chunk_windows x$docReps") {
      consume(TextAnalysis.chunkWindows(docs))
    }
    // in-block NN + cross-corpus contamination: reps CAPPED at 20×
    // (the semantic_dedup rationale — pure-duplicate replication
    // degenerates IVF buckets into all-copies cliques, and the
    // documented contract is "size nCentroids to the corpus / dedup
    // exact copies first"; 200× would quadratically blow the
    // in-bucket candidate count into ~10⁹ pairs of identical vectors)
    // replicas are PERTURBED (rep-scaled nudge on dim 0) so the probe
    // sees distinct directions, not 20 exact copies per bucket
    val nnReps = math.min(docReps, 20)
    val embNn = Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(nnReps).toDF("rep"))
      .select((col("vec_id") * nnReps + col("rep")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x + col("rep") * lit(0.001)).cast("float"))
            .otherwise(x)).as("embedding"),
        col("label"))
    timed(s"nn_novelty x$nnReps") {
      consume(Similarity.nnWithinBlocks(embNn, nCentroids = 256))
    }
    timed(s"semantic_contamination x$nnReps") {
      consume(Similarity.semanticContamination(embNn,
        col("vec_id") % 31 === 0, threshold = 0.4, nCentroids = 256))
    }
    // ===== round-13 operator probes over the perturbed 20× corpus =====
    timed(s"mutual_knn x$nnReps") {
      consume(Similarity.mutualKnnPairs(embNn, k = 5, nCentroids = 256))
    }
    timed(s"hubness x$nnReps") {
      consume(Similarity.hubnessStats(embNn, k = 5, topN = 10,
        nCentroids = 256))
    }
    timed(s"knn_classifier x$nnReps") {
      consume(Similarity.knnLabelVoteStats(embNn, k = 5, nCentroids = 256))
    }
    timed(s"filtered_ivf x$nnReps") {
      consume(Similarity.filteredIvfTopK(embNn,
        embNn.filter(col("vec_id") < 10),
        allowed = embNn.filter(pmod(col("vec_id"), lit(3L)) === 0L),
        k = 5, nCentroids = 256, nProbe = 8))
    }
    timed(s"sharded_topk x$nnReps") {
      consume(Similarity.shardedTopK(embNn,
        embNn.filter(col("vec_id") < 10), k = 5, nShards = 32))
    }
    timed(s"maxsim x$nnReps") {
      consume(graft.ext.Retrieval.maxSimTopK(embNn,
        embNn.filter(col("vec_id") < 10), k = 5))
    }
    timed(s"hot_cell_split x$nnReps") {
      consume(Similarity.hotCellSplit(embNn, nCentroids = 256,
        maxShareMicro = 5000L))
    }
    timed(s"neardup_sweep x$nnReps") {
      consume(Similarity.nearDupThresholdSweep(embNn,
        thresholdsMicro = Seq(300000L, 400000L, 500000L),
        nCentroids = 256))
    }
    timed(s"sample_coverage x$nnReps") {
      consume(Similarity.sampleCoverageStats(embNn,
        pmod(col("vec_id"), lit(7L)) === 0L, nCentroids = 256))
    }
    timed(s"effective_dim x$nnReps") {
      consume(Similarity.effectiveDimStats(embNn))
    }
    // k-center runs over a BOUNDED candidate sample by contract — the
    // probe keeps candidates ~100 while pair sims still come from the
    // 10k-vector corpus frame
    timed(s"kcenter_coreset x$nnReps") {
      consume(graft.ext.Retrieval.kCenterSelect(
        embNn.filter(pmod(col("vec_id"), lit(97L)) === 0L), embNn, k = 8))
    }
    timed(s"epoch_plan x$docReps") {
      consume(Curation.epochPlan(
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20L)))),
        budgetTokens = 100000000L))
    }
    timed(s"quality_calibration x$docReps") {
      consume(graft.ext.Profiling.calibrationStats(
        TextAnalysis.withQuality(docs),
        expr("CAST(round(quality * 1000000) AS BIGINT)"),
        (col("n_tokens") >= 30 && col("punct_ratio") <= 0.1 &&
          col("stop_ratio") >= 0.05).cast("long")))
    }
    // capped posting lists at 100M+ shingle rows
    timed(s"capped_postings x$docReps") {
      consume(docs.select(pmod(TextAnalysis.md5Hash60(col("text")),
          lit(1 << 20)).as("bucket"), col("doc_id"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.functions.SketchAggregates.capped_collect(12)(col("doc_id"))
            .as("ids")))
    }
    // one-call corpus report at 1M docs (quality + entropy + novelty)
    timed(s"corpus_report x$docReps") {
      val q = TextAnalysis.withQuality(docs).select(col("doc_id"),
        col("n_tokens"),
        expr("CAST(round(quality * 10000) AS BIGINT)").as("q10k"))
      val ent = docs.select(col("doc_id"),
          graft.functions.TextFunctions.char_entropy(col("text")).as("ce"))
        .select(col("doc_id"), col("ce.micro_entropy").as("me"))
      val nov = Dedup.shingleNovelty(docs)
        .select(col("doc_id"), col("n_shingles"), col("n_seen"))
      consume(q.join(ent, "doc_id").join(nov, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("nt"),
          expr("sum(q10k) div count(1)").as("avg_q"),
          expr("sum(me) div count(1)").as("avg_e"),
          sum(coalesce(col("n_seen"), lit(0L))).as("seen")))
    }

    // relational core at replicated-lineitem scale
    val li = Tables.lineitem(spark, sfDir)
      .crossJoin(spark.range(eventReps).toDF("rep"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    timed(s"pricing_summary x$eventReps") {
      consume(li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sq"),
          round(sum(rev), 2).as("sr"), count(lit(1)).as("n")))
    }
    timed(s"topk_join x$eventReps") {
      consume(li.join(broadcast(Tables.part(spark, sfDir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_name"))
        .agg(round(sum(rev), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("p_name")).limit(10))
    }
    // weighted median on the q102 failure shape: 10M rows funneled onto
    // a CARDINALITY-3 group key. The contraction must bound the window
    // input by the value domain (100k distinct values), so the 3-task
    // window sees ~300k rows, never 10M; the first line prints that
    // contracted size next to the raw count as the boundedness witness.
    timed("weighted_median 10M/3grp") {
      val wm = spark.range(10000000L).select(
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("g"),
        pmod(expr("xxhash64(id)"), lit(100000L)).as("v"),
        (pmod(expr("xxhash64(id, 7L)"), lit(50L)) + 1).as("w"))
      val contracted = wm.groupBy(col("g"), col("v")).count().count()
      println(f"[scale]   wm window input: $contracted rows (raw 10000000)")
      assert(contracted <= 300000L,
        s"contraction not bounded by value domain: $contracted")
      consume(Aggregations.weightedMedian(wm, "g", "v", "w"))
    }
    // hot-key ordered cumsum: 95% of 10M rows in ONE group. The direct
    // keyed window runs the hot group on a single task; saltedCumSum
    // spreads it across 32 segments — same rows out (spec-verified),
    // the probe records the wall-clock gap
    val skew = spark.range(10000000L).select(
      when(pmod(col("id"), lit(20)) === 0,
        concat(lit("cold"), pmod(col("id"), lit(7))))
        .otherwise(lit("hot")).as("g"),
      col("id").as("o"),
      pmod(expr("xxhash64(id)"), lit(100L)).as("v"))
    timed("cumsum_direct 10M/hot") {
      import org.apache.spark.sql.expressions.Window
      consume(skew.withColumn("cum",
        sum(col("v")).over(Window.partitionBy(col("g")).orderBy(col("o"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow))))
    }
    timed("cumsum_salted 10M/hot") {
      consume(graft.ops.SkewJoin.saltedCumSum(skew, "g", "o", "v",
        salt = 32))
    }

    // ===== round-5 operators ===============================================
    // BM25: the term filter must kill the corpus map-side — only
    // query-term hits may reach the tf shuffle
    timed(s"bm25 x$docReps") {
      consume(TextAnalysis.bm25TopK(docs,
        Seq("spark", "join", "vector"), k = 20))
    }
    // duplicated-gram coverage at adversarial density: on the
    // replicated corpus EVERY base gram is duplicated docReps times,
    // so the dup contraction is maximal and the join-back carries the
    // whole exploded stream — worst case for the op
    timed(s"dup_gram_coverage x$docReps") {
      consume(TextAnalysis.dupGramCoverage(docs))
    }
    // regression over the (group, token) contraction — corpus-sized
    // explode, vocab-sized everything after
    timed(s"zipf_slope x$docReps") {
      consume(TextAnalysis.zipfSlope(docsL))
    }
    // 1M-row full-outer id join + md5 compare
    timed(s"snapshot_diff x$docReps") {
      consume(Curation.snapshotDiff(docs,
        Curation.syntheticPrevSnapshot(docs)))
    }
    // winsorize on the q102 failure shape: 10M rows, 3 groups — the
    // contraction must bound the window input by the value domain
    timed("winsorize 10M/3grp") {
      val wz = spark.range(10000000L).select(
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("g"),
        pmod(expr("xxhash64(id)"), lit(100000L)).as("v"))
      consume(Aggregations.winsorizeStats(wz, "g", "v"))
    }
    // salted per-stratum top-k: 1M docs, 5 strata — no window task may
    // see more than ~1/salt of a stratum
    timed(s"weighted_sample x$docReps") {
      consume(Curation.weightedSample(docsL, k = 100, salt = 32))
    }
    timed(s"train_shards x$docReps") {
      consume(Curation.trainShards(docs, nShards = 1024))
    }
    // group-aware split repair over the full pair-gen + components
    // chain at 1M docs (the q112 deployment shape)
    timed(s"split_repair x$docReps") {
      consume(Dedup.repairSplitLeakage(docs,
        Dedup.components(Dedup.coShinglePairs(docs, minShared = 2,
          maxPostings = 150))))
    }
    // hard negatives at the capped-rep density (the nn_novelty
    // rationale: pure replication degenerates IVF buckets); labels
    // synthesized from the id so every bucket mixes labels
    timed(s"hard_negatives x$nnReps") {
      consume(Similarity.hardNegatives(
        embNn.withColumn("label", pmod(col("vec_id"), lit(7)).cast("int")),
        k = 3, nCentroids = 256))
    }

    // ---- round-6 additions (q114-q122) --------------------------------
    // dimStats: the explode ×64 collapses to dims-cardinality partial
    // buffers map-side — timing should track the scan, not the blowup
    timed(s"embed_dimstats x$docReps") {
      consume(Similarity.dimStats(emb))
    }
    // rate anomaly on the replicated stream: the aggregate contracts
    // events to (type × bucket) before any window
    timed(s"rate_anomaly x$eventReps") {
      consume(graft.ops.Behavior.rateAnomaly(events))
    }
    // attribution: one user-keyed window pass over 10M events
    timed(s"attribution x$eventReps") {
      consume(graft.ops.Behavior.lastTouchAttribution(events))
    }
    timed(s"token_drift x$docReps") {
      consume(TextAnalysis.tokenDrift(docs
        .withColumn("lang", pmod(col("doc_id"), lit(5)).cast("int")),
        snapshotCol = pmod(col("doc_id"), lit(2))))
    }
    timed(s"mutual_info x$eventReps") {
      consume(graft.ext.Profiling.mutualInfo(
        events.withColumn("dow",
          expr("CAST(floor(floor(unix_timestamp(ts)) / 86400) % 7 AS BIGINT)")),
        "event_type", "dow"))
    }
    timed(s"corr_matrix x$eventReps") {
      consume(graft.ext.Profiling.corrMatrix(
        Tables.lineitem(spark, sfDir)
          .crossJoin(spark.range(eventReps / 10).toDF("rep")),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
    }
    timed(s"key_skew x$eventReps") {
      consume(graft.ext.Profiling.keySkew(events, "user_id"))
    }
    // triangle census over the synthetic graph at 1M nodes (~2M
    // directed edges); wedge join bounded by the ~4-degree graph
    timed(s"triangles x$docReps") {
      consume(graft.ext.LinkGraph.triangleCensus(
        graft.ext.LinkGraph.syntheticEdges(docs)))
    }
    timed(s"k_anonymity x$eventReps") {
      consume(Curation.kAnonymity(
        events.select(col("event_type"),
          expr("CAST(floor(floor(unix_timestamp(ts)) / 86400) % 7 AS BIGINT)")
            .as("dow"),
          floor(col("value") / 10).cast("long").as("value_bucket")),
        Seq("event_type", "dow", "value_bucket")))
    }
    // contribution expansion: user-day contraction ×28, then distinct
    timed(s"rolling_dau x$eventReps") {
      consume(graft.ops.Behavior.rollingActiveUsers(events))
    }
    timed(s"path_trigrams x$eventReps") {
      consume(graft.ops.Behavior.pathTrigrams(events))
    }
    timed(s"psi_drift x$eventReps") {
      consume(graft.ext.Profiling.psiDrift(events, "value",
        pmod(expr("CAST(floor(floor(unix_timestamp(ts)) / 86400) AS BIGINT)"),
          lit(2))))
    }
    // production accuracy: cutpoints only need percentile RESOLUTION,
    // not element exactness — the 1e6 setting is for oracle parity
    timed(s"psi_drift_acc1e4 x$eventReps") {
      consume(graft.ext.Profiling.psiDrift(events, "value",
        pmod(expr("CAST(floor(floor(unix_timestamp(ts)) / 86400) AS BIGINT)"),
          lit(2)), accuracy = 10000))
    }
    timed(s"wilson_rate x$eventReps") {
      consume(graft.ops.Behavior.wilsonRate(events,
        "purchase", Seq("view", "purchase")))
    }
    timed(s"benford x$eventReps") {
      consume(graft.ext.Profiling.benford(events, "value"))
    }
    timed(s"ewma_forecast x$eventReps") {
      consume(graft.ops.Behavior.ewmaForecast(events))
    }

    // ===== round-7 operators ===============================================
    // keySkew at HIGH key cardinality (~6.3M distinct of 10M rows) —
    // the case the row_number formulation funneled through one window
    // task; the closed form's windows see only the distinct-COUNT-value
    // contraction (a handful of rows here)
    timed("key_skew_hikey 10M/6.3Mkeys") {
      consume(graft.ext.Profiling.keySkew(
        spark.range(10000000L)
          .select(pmod(expr("xxhash64(id)"), lit(10000000L)).as("k")),
        "k"))
    }
    timed(s"join_cardinality x${eventReps / 10}") {
      consume(graft.ext.Profiling.joinCardinality(
        Tables.lineitem(spark, sfDir)
          .crossJoin(spark.range(eventReps / 10).toDF("rep")),
        Tables.orders(spark, sfDir), "l_orderkey", "o_orderkey"))
    }
    timed(s"shingle_overlap x$docReps") {
      consume(Dedup.shingleOverlap(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
    }
    timed("mad_outliers 10M/3grp") {
      val mo = spark.range(10000000L).select(
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("g"),
        pmod(expr("xxhash64(id)"), lit(100000L)).as("v"))
      consume(Aggregations.madOutliers(mo, "g", "v"))
    }
    // the adaptive-salt crossover (round-8 fix): NEAR-UNIQUE values
    // over a 3-value group key — the contraction does NOT contract
    // (~19M distinct of 30M rows), so the adaptive pick must take the
    // salted branch; salt=1 pins the direct-window funnel (3 tasks
    // sorting ~6M rows each, per median) for the wall-clock gap. On
    // the BOUNDED domain above (100k values) the adaptive pick stays
    // direct — same operator, both regimes witnessed.
    val nearUnique = spark.range(30000000L).select(
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("g"),
      pmod(expr("xxhash64(id)"), lit(30000000L)).as("v"))
    timed("mad_outliers 30M/near-uniq adaptive") {
      consume(Aggregations.madOutliers(nearUnique, "g", "v"))
    }
    timed("mad_outliers 30M/near-uniq direct") {
      consume(Aggregations.madOutliers(nearUnique, "g", "v", salt = 1))
    }
    timed("weighted_median 30M/near-uniq adaptive") {
      consume(Aggregations.weightedMedian(
        nearUnique.withColumn("w", lit(1L)), "g", "v", "w"))
    }
    timed("weighted_median 30M/near-uniq direct") {
      consume(Aggregations.weightedMedian(
        nearUnique.withColumn("w", lit(1L)), "g", "v", "w", salt = 1))
    }
    // the q144 harness fix, scale-invariance witness: at ×30 corpus a
    // 1/30 md5-keep sample holds the pair-set eval at ~the sf0.1 full
    // cost (the exact reference side is quadratic in the SAMPLE, not
    // the corpus — recall/precision on a uniform doc sample estimate
    // the corpus numbers unbiasedly)
    timed(s"pair_set_eval x$docReps/sample${docReps}") {
      val sample = docs.filter(
        pmod(TextAnalysis.md5Hash60(col("doc_id").cast("string")),
          lit(docReps.toLong)) === 0)
      consume(Dedup.pairSetEval(
        Dedup.jaccardPairs(sample, threshold = 0.5, maxPostings = 1000),
        Dedup.minhashPairs(sample, threshold = 0.5)))
    }
    // the q135 shape fix, measured where EXPANSION dominates: at ×10
    // replication with cap 500 every base shingle's 10-copy posting
    // list survives the cap, so the full expansion pays C(10,2) pairs
    // per list while the touching variant pays k_new·k with a ~10%
    // new batch — the regime the incremental-crawl operator exists
    // for. (A cap BELOW the replication factor silently cap-drops
    // every list and both variants measure only the posting build —
    // the first version of this probe did exactly that and read as
    // parity; keep cap > reps.)
    val docs10 = Tables.documents(spark, sfDir)
      .crossJoin(spark.range(10).toDF("rep"))
      .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
    // q135 stage decomposition (run with docReps=1 against a ScaleUp
    // dir to see which stage owns the 10× wall-clock)
    val isNewQ = pmod(col("doc_id"), lit(7)) === 0
    timed("q135_pairs_old") {
      consume(Dedup.coShinglePairs(docs.filter(!isNewQ),
        minShared = 2, maxPostings = 1000))
    }
    timed("q135_pairs_touching") {
      consume(Dedup.coShinglePairsTouching(docs, isNewQ,
        minShared = 2, maxPostings = 1000))
    }
    timed("q135_cc_old") {
      consume(Dedup.components(Dedup.coShinglePairs(docs.filter(!isNewQ),
        minShared = 2, maxPostings = 1000)))
    }
    timed("q135_incremental_full") {
      val oldLabels = Dedup.components(Dedup.coShinglePairs(
        docs.filter(!isNewQ), minShared = 2, maxPostings = 1000))
      consume(Dedup.incrementalComponents(oldLabels,
        Dedup.coShinglePairsTouching(docs, isNewQ,
          minShared = 2, maxPostings = 1000)))
    }
    timed("incremental_pairs x10/cap500") {
      consume(Dedup.coShinglePairsTouching(docs10,
        pmod(col("doc_id"), lit(10)) === 0,
        minShared = 2, maxPostings = 500))
    }
    timed("full_pairs_filtered x10/cap500") {
      consume(Dedup.coShinglePairs(docs10, minShared = 2, maxPostings = 500)
        .filter(pmod(col("doc_a"), lit(10)) === 0 ||
          pmod(col("doc_b"), lit(10)) === 0))
    }

    // ===== round-11 additions ==========================================
    // skipping decision metric over a SCALED fact projection (q192's
    // registered table is the unscaled customer dim): the cost model is
    // the shared bucket projection + two 16-group hash aggregates —
    // should scale linearly with one pass over the input
    timed(s"zorder_skipping x$eventReps") {
      consume(graft.io.Layout.skippingComparison(
        events.select(col("user_id").cast("long").as("uid"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
        "uid", "cents", aProbe = (1L, 50L), bProbe = (0L, 10000L)))
    }
    // two-level IVF search at 30x corpus (the beyond-driver-cap path)
    timed(s"ivf_two_level x$docReps") {
      consume(Similarity.ivfTopK2(emb,
        emb.filter(col("vec_id") < 10), k = 5,
        n1 = 8, n2 = 4, p1 = 3, p2 = 2))
    }
    // PQ index lifecycle at 30x: persist + reload + search, then a
    // frozen-codebook delta add (the q197/q198 deployment shapes).
    // Block gate uses the SAME token-in-name predicate timed() applies
    // (a token like "save+load" must enter the block, not skip it);
    // the temp dir cleans up even when a timed body throws.
    val lifecycleNames = Seq(
      s"pq_lifecycle save+load+search x$docReps",
      s"pq_lifecycle add+search x$docReps",
      "pq_lifecycle add_only base20",
      "pq_lifecycle add_only base80")
    if (only.forall(_.split(",")
        .exists(t => lifecycleNames.exists(_.contains(t))))) {
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val q = emb.filter(col("vec_id") < 10)
      val idx = Similarity.pqBuild(base, m = 16, dsub = 4, kCodes = 32,
        iters = 1)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_pq30").toString
      try {
        timed(s"pq_lifecycle save+load+search x$docReps") {
          Similarity.savePqIndex(idx, dir)
          consume(Similarity.pqAdcSearch(
            Similarity.loadPqIndex(spark, dir), q, k = 5))
        }
        timed(s"pq_lifecycle add+search x$docReps") {
          consume(Similarity.pqAdcSearch(
            Similarity.pqIndexAdd(idx, delta), q, k = 5))
        }
        // add cost must be flat in BASE size (the delta-only
        // checkpoint contract): same 20% delta added to a 20% base vs
        // the 80% base — pqIndexAdd materializes the delta codes
        // eagerly, so timing the call isolates the add itself (encode
        // + delta checkpoint + the read-only base id scan)
        val deltaN = delta.count()
        val idxSmall = Similarity.pqBuild(
          emb.filter(pmod(col("vec_id"), lit(5)) === 0),
          m = 16, dsub = 4, kCodes = 32, iters = 1)
        val delta2 = emb.filter(pmod(col("vec_id"), lit(5)) === 1)
        timed("pq_lifecycle add_only base20") {
          Similarity.pqIndexAdd(idxSmall, delta2); deltaN
        }
        timed("pq_lifecycle add_only base80") {
          Similarity.pqIndexAdd(idx, delta); deltaN
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }

    // ===== round-12 additions ==========================================
    // IVF (residual-PQ) index lifecycle at 30x: the flat index's
    // save/load + search, frozen add + search and drift on an index
    // with a coarse quantizer (the q201/q202/q204 deployment shapes)
    val resLifecycleNames = Seq(
      s"res_lifecycle save+load+search x$docReps",
      s"res_lifecycle add+search x$docReps",
      s"res_lifecycle drift x$docReps")
    if (only.forall(_.split(",")
        .exists(t => resLifecycleNames.exists(_.contains(t))))) {
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val q = emb.filter(col("vec_id") < 10)
      val ridx = Similarity.residualPqBuild(base, nCentroids = 16,
        m = 16, dsub = 4, kCodes = 32, iters = 1)
      val rdir = java.nio.file.Files
        .createTempDirectory("graft_respq30").toString
      try {
        timed(s"res_lifecycle save+load+search x$docReps") {
          Similarity.savePqIndex(ridx, rdir)
          consume(Similarity.residualPqSearch(
            Similarity.loadPqIndex(spark, rdir), q, k = 5, nProbe = 4))
        }
        timed(s"res_lifecycle add+search x$docReps") {
          consume(Similarity.residualPqSearch(
            Similarity.pqIndexAdd(ridx, delta), q, k = 5, nProbe = 4))
        }
        // the q204 measure step over the grown index (one corpus pass
        // + the skinny codes join + broadcast recenter/codebooks)
        timed(s"res_lifecycle drift x$docReps") {
          consume(Similarity.pqDriftStats(
            Similarity.pqIndexAdd(ridx, delta), emb,
            when(pmod(col("vec_id"), lit(5)) === 0, lit("delta"))
              .otherwise(lit("base"))))
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(rdir))
    }
    // SQ8 compressed scan at 30x corpus (the q205 shape — brute plan
    // with a 4x-smaller stored form)
    timed(s"sq8_topk x$docReps") {
      consume(Similarity.sq8TopK(emb,
        emb.filter(col("vec_id") < 10), 5))
    }
    // IVF-blocked SQ8 at 30x (the q207 sub-linear path)
    timed(s"ivf_sq8 x$docReps") {
      consume(Similarity.ivfSq8TopK(emb,
        emb.filter(col("vec_id") < 10), 5, nCentroids = 16, nProbe = 4))
    }
    // two-level IVF recall row at 30x (q200's brute yardstick +
    // hierarchical search, reduced to one integer row)
    timed(s"ivf2_recall x$docReps") {
      val q = emb.filter(col("vec_id") < 10)
      consume(Similarity.recallStats(
        Similarity.bruteTopK(emb, q, 5),
        Similarity.ivfTopK2(emb, q, 5, n1 = 8, n2 = 4, p1 = 3, p2 = 2),
        k = 5))
    }
    // advisor-dispatched join over the replicated fact (q203 shape):
    // audit cost + the routed join, end to end
    timed("dispatch_join x30li") {
      val li = Tables.lineitem(spark, sfDir)
        .crossJoin(spark.range(30).toDF("rep"))
        .select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val (strat, joined) = graft.ext.Profiling.dispatchJoin(
        li, dim, "l_orderkey", "o_orderkey",
        broadcastRowLimit = 1000L, salt = 8)
      println(s"[scale] dispatch_join strategy=$strat")
      consume(joined)
    }

    // bloom-pruned SALTED join: replicated lineitem vs the urgent dim
    timed("bloom_skew_join x30li") {
      val li = Tables.lineitem(spark, sfDir)
        .crossJoin(spark.range(30).toDF("rep"))
        .select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      consume(graft.ops.RuntimeFilters.bloomPrunedSkewJoin(
        li, dim, "l_orderkey", "o_orderkey", salt = 8))
    }

    // ===== round-12 second batch =======================================
    // exact-refine two-stage search at 30x (q209): IVF-PQ shortlist at
    // R=20, full-precision re-rank touching |Q|·20 corpus rows only.
    // The index builds OUTSIDE the timed block (the lifecycle-probe
    // convention: training is the one-time job, the refine tail is the
    // per-query serving cost q209 measures off the memoized index)
    if (only.forall(_.split(",")
        .exists(t => s"pq_refine x$docReps".contains(t)))) {
      val refIdx = Similarity.pqBuild(emb, m = 16, dsub = 4,
        kCodes = 32, iters = 1)
      timed(s"pq_refine x$docReps") {
        consume(Similarity.ivfPqRefineTopK(refIdx, emb,
          emb.filter(col("vec_id") < 10), k = 5, r = 20,
          nCentroids = 16, nProbe = 4))
      }
    }
    // probe-sweep tuning table at 30x (q211): one assignment + one
    // scored candidate pass serves all three operating points
    timed(s"ivf_probe_sweep x$docReps") {
      consume(Similarity.ivfRecallSweep(emb,
        emb.filter(col("vec_id") < 10), k = 5, nCentroids = 16,
        nProbes = Seq(1, 2, 4)))
    }
    // PC1 scatter pass at 30x (q212): the ×dim² generate collapses
    // map-side to 2 080 upper-triangle cells; the iteration itself is
    // a 64×64 driver-model computation
    timed(s"pc1_power x$docReps") {
      consume(Similarity.pc1PowerIteration(emb, iters = 3))
    }
    // MMR at 30x (q213): candidate generation is the brute first
    // stage; the greedy loop's joins touch only |Q|·R candidate rows
    timed(s"mmr_rerank x$docReps") {
      consume(graft.ext.Retrieval.mmrTopK(emb,
        emb.filter(col("vec_id") < 10), k = 5, r = 20))
    }
    // retrain-benefit measure at 30x (q214): both indexes prebuilt
    // (stored artifacts at deployment), timing the two drift passes
    if (only.forall(_.split(",")
        .exists(t => s"retrain_benefit x$docReps".contains(t)))) {
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val grown = Similarity.pqIndexAdd(
        Similarity.pqBuild(base, m = 16, dsub = 4, kCodes = 32), delta)
      val retrained = Similarity.pqBuild(emb, m = 16, dsub = 4,
        kCodes = 32)
      timed(s"retrain_benefit x$docReps") {
        consume(Similarity.pqRetrainBenefitStats(grown, retrained, emb))
      }
    }
    // LSH band sweep at 30x (q215): one signature pass + one exact
    // reference serve all three band settings
    timed(s"lsh_band_sweep x$docReps") {
      consume(Dedup.lshBandSweep(docs, threshold = 0.5, k = 64,
        bandsList = Seq(4, 8, 16), maxPostings = 500))
    }
    // IVF cell-balance audit at 30x (q216): one assignment pass + a
    // 16-row aggregate
    timed(s"ivf_cell_stats x$docReps") {
      consume(Similarity.ivfCellStats(emb, nCentroids = 16))
    }
    // residual refine at 30x (q218): refineUpliftStats over a prebuilt
    // IVF index (a residualPqSearch first stage) + the |Q|·20-row
    // exact join (the q209 shape on the residual path)
    if (only.forall(_.split(",")
        .exists(t => s"residual_refine x$docReps".contains(t)))) {
      val rIdx = Similarity.residualPqBuild(emb, nCentroids = 16,
        m = 16, dsub = 4, kCodes = 32)
      timed(s"residual_refine x$docReps") {
        consume(Similarity.refineUpliftStats(rIdx, emb,
          emb.filter(col("vec_id") < 10), k = 5, r = 20, nProbe = 4))
      }
    }
    // cell-assignment PSI at 30x (q219): one aggregate over the stored
    // assignment to 16 cells, scalar math on the contraction
    if (only.forall(_.split(",")
        .exists(t => s"ivf_cell_drift x$docReps".contains(t)))) {
      val cells = Similarity.ivfAssign(emb, 16)
        .select(col("id"), col("centroid_id"))
      timed(s"ivf_cell_drift x$docReps") {
        consume(Similarity.ivfCellDriftStats(cells,
          pmod(col("id"), lit(5)) === 0, cellCol = "centroid_id"))
      }
    }
    // streaming vector ingest at 30x (q220's lifecycle): two
    // processBatch deliveries over the replicated delta + the grown
    // on-disk artifact searched — times ingest + serve, base training
    // excluded (the lifecycle-probe convention; the probe drives the
    // foreachBatch body directly, so no driver-side vector collect)
    if (only.forall(_.split(",")
        .exists(t => s"vector_ingest x$docReps".contains(t)))) {
      val vdir = java.nio.file.Files
        .createTempDirectory("graft_vingest30").toString
      try {
        Similarity.savePqIndex(
          Similarity.pqBuild(
            emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
            m = 16, dsub = 4, kCodes = 32, iters = 1),
          s"$vdir/base")
        val delta = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
        timed(s"vector_ingest x$docReps") {
          graft.stream.VectorIngest.processBatch(vdir)(
            delta.filter(pmod(col("vec_id"), lit(10)) === 0), 0L)
          graft.stream.VectorIngest.processBatch(vdir)(
            delta.filter(pmod(col("vec_id"), lit(10)) =!= 0), 1L)
          consume(Similarity.pqAdcSearch(
            graft.stream.VectorIngest.loadGrownIndex(spark, vdir),
            emb.filter(col("vec_id") < 10), 5))
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(vdir))
    }
    // Matryoshka two-stage at 30x (q221): prefix-16 scan (4x less dot
    // work than brute) + the |Q|·20-row exact refine
    timed(s"matryoshka_refine x$docReps") {
      consume(Similarity.prefixRefineTopK(emb,
        emb.filter(col("vec_id") < 10), k = 5, r = 20, prefixDims = 16))
    }
    // SQ4 compressed scan at 30x (q223): the q205 plan at 15 levels
    timed(s"sq4_topk x$docReps") {
      consume(Similarity.sq4TopK(emb,
        emb.filter(col("vec_id") < 10), 5))
    }
    // hybrid search at 30x (q217): BM25 over the replicated docs +
    // cosine over the replicated corpus → RRF → MMR tail on 20 rows
    timed(s"hybrid_search x$docReps") {
      import org.apache.spark.sql.expressions.Window
      val bm = TextAnalysis.bm25TopK(docs,
          terms = Seq("spark", "join", "vector"), k = 100)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      val cos = Similarity.bruteTopK(emb,
          emb.filter(col("vec_id") === 0), k = 100)
        .select(col("cid").as("id"), col("rank"))
      val fused = graft.ext.Retrieval.rrf(Seq(bm, cos), c = 60,
        topK = 20)
      consume(graft.ext.Retrieval.mmrDiversify(
        fused.select(lit(0L).as("qid"), col("id").as("cid"),
          col("rrf_micro").as("rel_micro")),
        emb, k = 5))
    }
    // keep-best election + dedup-aware shards at REP scale
    // (q254/q267): the election window must stay bounded by cluster
    // multiplicity when the dup density is REP× the fixture's
    timed(s"dedup_elect_shards x$docReps") {
      val d2 = docs.withColumn("n_chars", length(col("text")).cast("long"))
      val comps = Dedup.components(
        Dedup.coShinglePairs(d2, minShared = 2, maxPostings = 1000))
      consume(Curation.dedupAwareTrainShards(d2, comps, nShards = 8))
    }
    // election-store compaction audit at REP scale (q271): the
    // earlier-better anti-join is keyed on the cluster key with
    // multiplicity ≤ |batches| — verify it holds at high key count
    timed(s"store_compaction x$docReps") {
      val d2 = docs.withColumn("n_chars", length(col("text")).cast("long"))
      consume(Dedup.electStoreCompactionStats(d2,
        keyCol = md5(array_join(
          slice(TextAnalysis.tokens(lower(col("text"))), 1, 5), " ")),
        prefCol = col("n_chars"),
        batchCol = pmod(TextAnalysis.md5Hash60(
          concat(lit("b:"), col("doc_id").cast("string"))), lit(8L))))
    }
    // candidate-pair jaccard histogram at REP scale (q276): the
    // posting-pair stream under the hot-shingle cap, two shuffle_hash
    // size joins, 11-bucket aggregate
    timed(s"jaccard_histogram x$docReps") {
      consume(Dedup.pairJaccardHistogram(docs, maxPostings = 1000))
    }
    // contamination escape at REP scale (q282): election window over
    // REP-dense clusters + the skinny flag join — flags stay a hash
    // set probe, the cube is component-keyed
    timed(s"contam_escape x$docReps") {
      val d2 = docs.withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20))))
      val comps = Dedup.components(
        Dedup.coShinglePairs(d2, minShared = 2, maxPostings = 1000))
      consume(Curation.contamEscapeStats(
        d2.filter(col("doc_id") % 9973 =!= 0), comps,
        Curation.contamination(d2.filter(col("doc_id") % 9973 =!= 0),
          d2.filter(col("doc_id") % 9973 === 0)).select(col("doc_id")),
        col("n_chars")))
    }
    // preference pairs at REP scale (q284): map-side quality scoring,
    // two block-keyed windows, the m^2-per-block join — pair volume
    // must stay blocks*m^2 regardless of REP
    timed(s"preference_pairs x$docReps") {
      consume(Curation.preferencePairs(
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20)))), m = 3))
    }
    // in-batch false negatives at REP scale (q289): id-keyed component
    // join + two hash aggregates per size — counting only, no pair
    // frame ever materializes
    timed(s"false_negatives x$docReps") {
      val comps = Dedup.components(
        Dedup.coShinglePairs(docs, minShared = 2, maxPostings = 1000))
      consume(Curation.falseNegativeSweep(docs, comps, Seq(64, 1024)))
    }
    // topic tagging + repeat exposure at REP scale: both pure map-side
    // (fused token_set_hits kernels; the plan is a source-cardinality
    // frame) — the corpus is scanned once each
    timed(s"topic_tag x$docReps") {
      consume(TextAnalysis.topicTag(docs, Seq(
        "exec" -> Seq("scan", "filter", "join", "agg", "sort"),
        "engine" -> Seq("spark", "stream", "batch", "query")))
        .groupBy(col("topic")).agg(count(lit(1)).as("n")))
    }
    timed(s"repeat_exposure x$docReps") {
      consume(Curation.repeatExposure(
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20)))),
        budgetTokens = 10000000L))
    }
    // stateless bloom decontam kernel at REP scale (the StreamDecontam
    // path): per-row exists() over shingles x k literal-array probes,
    // zero shuffles — the whole probe is one map pass + count
    timed(s"stream_decontam x$docReps") {
      val bits = graft.stream.StreamDecontam.bloomBits(
        docs.filter(col("doc_id") % 9973 === 0))
      consume(graft.stream.StreamDecontam.withBloomFlag(
          docs.filter(col("doc_id") % 9973 =!= 0), bits)
        .groupBy(col("is_contaminated")).agg(count(lit(1)).as("n")))
    }
    // BPE vocab usage at REP scale (q288): the symbol-stream explode is
    // the corpus-sized stage, the aggregate is vocab-keyed, the top-k
    // is a TakeOrderedAndProject
    timed(s"vocab_usage x$docReps") {
      consume(TextAnalysis.bpeVocabUsage(
        TextAnalysis.bpeEncodeSymbols(docs,
          TextAnalysis.bpeMerges(docs, iters = 3), iters = 3),
        topK = 20))
    }
    // bitext mining at CAPPED reps (the semantic_dedup rationale: the
    // replicated corpus has ~5k distinct directions, so pinned cells
    // fill with exact copies and in-cell pair volume grows
    // quadratically in reps — the op's contract is "cells bound
    // candidates", which pure duplication deliberately violates; 20x
    // probes the real plan shape at adversarial-but-bounded density)
    timed(s"bitext_yield x$semReps") {
      consume(Similarity.bitextMutualStats(embSem,
        embSem.select(col("vec_id"),
          element_at(lit(Array("en", "de", "fr", "es", "zh")),
            pmod(col("vec_id"), lit(5)).cast("int") + 1).as("lang")),
        targetLang = "en"))
    }
    // PQ-index erasure at REP scale (q286): the codes anti-join against
    // the broadcastable delete set, then the ADC scan over the erased
    // index — erase must not break the LUT-sum plan shape
    timed(s"index_erasure x$docReps") {
      val idx = Similarity.pqBuild(emb, m = 16, dsub = 4, kCodes = 32,
        iters = 1)
      consume(Similarity.pqAdcSearch(
        Similarity.erasePqIndex(idx,
          emb.filter(col("vec_id") % 41 === 0).select(col("vec_id"))),
        emb.filter(col("vec_id") < 10), 5))
    }
    // perceptual-hash histogram at REP scale (q305/q306): 61 md5 grid
    // cells per asset then the 4x15-bit banded self-join — the probe
    // catches a codegen blow-up in the 61-expression projection and
    // any unbounded bucket in the chunk join
    timed(s"phash_histogram x$docReps") {
      consume(graft.ext.Multimodal.phashHammingHistogram(
        graft.ext.Multimodal.assets(docs)))
    }
    // frame-vote histogram at REP scale (q310/q311) WITH the bucket
    // guard engaged: replicated docs share their 32-char prefix, so
    // frame 0 forms reps-sized buckets per base doc — exactly the
    // degenerate shape the guard exists for (uncapped would be
    // reps²/2 pairs per base doc)
    timed(s"frame_votes x$docReps") {
      consume(graft.ext.Multimodal.frameVoteHistogram(
        graft.ext.Multimodal.assets(docs), maxBucketSize = 64))
    }
    // watermark advisor at REP scale (q308): the jittered arrival
    // derivation + per-key running-max window + digit-bucket tail over
    // ~1M events — two keyed windows, a <=12-group aggregate
    timed(s"watermark_advisor x$eventReps") {
      consume(graft.ext.Profiling.watermarkAdvisor(
        events.withColumn("arrival",
          unix_timestamp(col("ts")).cast("long")
            + pmod(TextAnalysis.md5Hash60(concat(lit("arr:"),
                col("event_id").cast("string"))), lit(600L)) - lit(300L)),
        coverMicro = 999000L, arrivalCol = "arrival"))
    }
    // log-erasure divergence at REP scale (q309) over synthetic ~20-doc
    // clusters: three component-keyed windows + the skinny anti-join —
    // the shape must stay window-bound, never cluster-quadratic
    timed(s"log_erasure x$docReps") {
      consume(graft.stream.ElectionStream.logErasureDivergence(
        docs.withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20L))))
          .withColumn("n_chars", length(col("text")).cast("long")),
        docs.select(col("doc_id"),
          (col("doc_id") - pmod(col("doc_id"), lit(20L))).as("component")),
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")),
        prefCol = col("n_chars")))
    }
    // clip-containment sketch at REP scale (q313): the codegen char-
    // shingle kernel over the full corpus (the sketch pass multiplies
    // by corpus size), postings cap, pruned self-join
    timed(s"clip_containment x$docReps") {
      consume(graft.ext.Multimodal.clipContainmentPairs(
        graft.ext.Multimodal.assets(docs), maxPostings = 64))
    }
    // streaming asset-dedup batch body at REP scale: phash projection
    // + banded store probe + in-batch self-join, all keyed
    timed(s"asset_dedup_batch x$docReps") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_probe_assetdedup").toString
      graft.stream.AssetDedupStream.processBatch(
        s"$dir/store", s"$dir/out")(
        graft.ext.Multimodal.assets(docs)
          .select(col("doc_id"), col("payload")), 0L)
      spark.read.parquet(s"$dir/out/batch_id=0").count()
    }
    spark.stop()
  }
}
