package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines — extension
  * tier (SURVEY.md §7 step 5). Four families:
  *
  *  - exact:          hash-groupBy on the full text (one shuffle)
  *  - n-gram Jaccard: exact set similarity over word shingles (inverted-
  *                    index self-join — exact but quadratic in the worst
  *                    case; the correctness yardstick for the fuzzy ops)
  *  - MinHash + LSH:  the 100 TB-scale path — fixed-width signatures,
  *                    banded bucketing, candidates only within buckets
  *  - SimHash:        64-bit near-dup hash, chunk-banded pair generation
  *
  * All signature computation is per-row map-side work expressed with
  * higher-order array functions (no UDFs, no explode of the hash space);
  * only candidate generation shuffles, keyed on band buckets whose
  * cardinality we control.
  */
object Dedup {

  /** Hash scheme for the sketch operators. `Fast` (xxhash64) is the
    * scale default — a sketch hash only needs to agree within one run.
    * `Oracle` (md5-prefix, `TextAnalysis.md5Hash60`) is ~2× slower on
    * signatures but replicable by any engine with md5, which is what
    * lets the driver's DuckDB oracle verify entire sketch pipelines
    * bit-for-bit (q18/q19). */
  sealed trait HashScheme {
    /** 60-64-bit key of a string. */
    def one(c: Column): Column
    /** member `i` of a hash family over an already-hashed key. */
    def seeded(c: Column, i: Int): Column
    /** bucket key of an array-of-longs LSH band. */
    def band(sliceCol: Column): Column
  }
  case object FastHash extends HashScheme {
    def one(c: Column): Column = xxhash64(c)
    def seeded(c: Column, i: Int): Column = xxhash64(c, lit(i))
    def band(sliceCol: Column): Column = xxhash64(sliceCol)
  }
  case object OracleHash extends HashScheme {
    def one(c: Column): Column = TextAnalysis.md5Hash60(c)
    // Carter-Wegman family over the (non-negative) md5 key:
    // ((c mod P) * Aᵢ + Bᵢ) mod P — pure integer arithmetic, so it runs
    // codegen'd at xxhash speed AND any engine replicates it with
    // BIGINT math (an md5-per-seed family measured 6× slower on q18).
    // Products stay < 2⁶² (P = 2³¹−1), no overflow in strict engines.
    def seeded(c: Column, i: Int): Column = {
      val (a, b) = cwConsts(i)
      ((c % MersenneP) * a + b) % MersenneP
    }
    // string-join the band (md5 has no native array input); 16 bands
    // per doc keeps this off the hot path
    def band(sliceCol: Column): Column =
      TextAnalysis.md5Hash60(
        array_join(transform(sliceCol, _.cast("string")), ","))
  }

  /** 2³¹−1, the Mersenne prime bounding the Carter-Wegman family. */
  val MersenneP = 2147483647L

  /** Driver-side mirror of the oracle's md5-prefix hash
    * (`TextAnalysis.md5Hash60` as a plain function): first 15 hex chars
    * of md5 as a long. Used to derive plan-time constants that the
    * generated oracle SQL embeds identically. */
  def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** (Aᵢ, Bᵢ) for Carter-Wegman family member i — md5-derived so the
    * constants carry no magic, Aᵢ ∈ [1, P−1], Bᵢ ∈ [0, P−1]. The
    * oracle-SQL generator calls this too, so both engines share the
    * exact constants. */
  def cwConsts(i: Int): (Long, Long) =
    (md5Long(s"a|$i") % (MersenneP - 1) + 1, md5Long(s"b|$i") % MersenneP)

  // ===== shared shingling ==================================================

  /** Distinct word n-gram shingles of a token array (empty when fewer
    * than n tokens — guards sequence() from descending). */
  def shingles(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>")))

  private def toks(textCol: String): Column =
    TextAnalysis.tokens(col(textCol))

  /** Exploded (id, pos, shingle) rows built with `lead()` window
    * functions — the form for consumers that need shingle POSITIONS
    * (winnowing). Costs one corpus exchange (the window partitions by
    * id); position-free consumers use `shingleRowsFast`, which builds
    * shingles map-side with the codegen kernel and shuffles nothing. */
  def shingleRows(docs: DataFrame, n: Int = 3,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = (0 until n).map {
      case 0 => col("t")
      case i => lead(col("t"), i).over(w)
    }
    val rows = docs.select(col(idCol).as("id"),
        posexplode(toks(textCol)).as(Seq("pos", "t")))
      .select(col("id"), col("pos"),
        when(parts.last.isNotNull, concat_ws(" ", parts: _*)).as("sh"))
      .filter(col("sh").isNotNull)
    if (keepPos) rows
    else rows.drop("pos").dropDuplicates("id", "sh")
  }

  /** Distinct (id, sh) shingle rows via the codegen `word_shingles`
    * kernel: one JIT-compiled pass per row + explode, distinct per doc
    * by construction — no window exchange shuffling the corpus by id,
    * no dropDuplicates shuffle. The preferred form for every consumer
    * that doesn't need shingle positions (winnowing keeps the window
    * path). */
  def shingleRowsFast(docs: DataFrame, n: Int = 3,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.TextFunctions.word_shingles(col(textCol), n))
        .as("sh"))

  /** Corpus-level n-gram overlap between two snapshots — the dataset
    * VERSIONING diff (did the recrawl actually change the corpus? how
    * much of last month's data is inside this month's?): distinct
    * shingle counts per side, the shared count, Jaccard, and both
    * containments (C(a|b) = |A∩B|/|A| — asymmetric, the "is A a
    * subset of B" signal Jaccard hides). Complements
    * [[graft.ext.TextAnalysis]]'s tokenDrift (distribution-shape
    * drift) with set-membership drift at shingle granularity.
    *
    * One row out: (n_shingles_a, n_shingles_b, n_common, n_union,
    * jaccard, containment_a, containment_b).
    *
    * Scale: shingles build map-side (codegen kernel), collapse to the
    * distinct-shingle universe in ONE hash-keyed shuffle (map-side
    * partial max on two presence flags — never a self-join of the
    * sides), and the audit aggregate runs over that contraction. The
    * hash is pluggable per the [[HashScheme]] convention: xxhash64 at
    * scale, `TextAnalysis.md5Hash60` where a DuckDB oracle must replay
    * the exact key (q138). */
  def shingleOverlap(a: DataFrame, b: DataFrame, n: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text",
                     hash: Column => Column = xxhash64(_)): DataFrame = {
    def side(df: DataFrame, flag: Int) =
      shingleRowsFast(df, n, idCol, textCol)
        .select(hash(col("sh")).as("h"), lit(flag).as("snap"))
    val univ = side(a, 0).unionByName(side(b, 1))
      .groupBy(col("h"))
      .agg(max(when(col("snap") === 0, 1L).otherwise(0L)).as("in_a"),
        max(when(col("snap") === 1, 1L).otherwise(0L)).as("in_b"))
    val t4 = TextAnalysis.trunc4 _
    univ.agg(
        coalesce(sum(col("in_a")), lit(0L)).as("n_shingles_a"),
        coalesce(sum(col("in_b")), lit(0L)).as("n_shingles_b"),
        coalesce(sum(col("in_a") * col("in_b")), lit(0L)).as("n_common"),
        count(lit(1)).as("n_union"))
      .select(col("n_shingles_a"), col("n_shingles_b"), col("n_common"),
        col("n_union"),
        t4(col("n_common").cast("double") / col("n_union")).as("jaccard"),
        t4(col("n_common").cast("double") / col("n_shingles_a"))
          .as("containment_a"),
        t4(col("n_common").cast("double") / col("n_shingles_b"))
          .as("containment_b"))
  }

  /** Per-document n-gram redundancy vs the id-ordered corpus prefix:
    * the fraction of a doc's DISTINCT shingles whose first occurrence
    * (min doc_id — the dedup canonical-survivor convention) lies in an
    * earlier document. High redundancy = the doc adds little new
    * content even when no single earlier doc matches it (template
    * mosaics, aggregator pages) — the gap exact and near-dup both
    * leave. Integer micro-ratio, no floats.
    *
    * Scale shape: one shuffle to the shingle-keyed first-occurrence
    * table; the join back arrives already partitioned on the shingle
    * key, then one roll-up on doc id. Docs with < n tokens have no
    * shingles and are absent (same as the oracle). */
  def shingleNovelty(docs: DataFrame, n: Int = 3,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val sh = shingleRowsFast(docs, n, idCol, textCol)
    val first = sh.groupBy(col("sh")).agg(min(col("id")).as("first_id"))
    sh.join(first, "sh")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L))
          .as("n_seen"))
      .select(col(idCol), col("n_shingles"), col("n_seen"),
        expr("n_seen * 1000000 div n_shingles").as("micro_redundancy"))
  }

  // ===== exact dedup =======================================================

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest doc_id as the canonical survivor. Single hash-aggregate
    * shuffle keyed on md5 — at 100 TB this is the minimal-movement plan
    * (only 16-byte keys + ids move, never the text). */
  def exactDups(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))

  /** The (text_hash) fingerprint view of a batch — what a persistent
    * dedup store accumulates, one distinct 16-byte key per text ever
    * seen, never the text itself. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash")).distinct()

  /** Incremental exact dedup for CONTINUOUS ingestion: drop from a new
    * batch every document whose text was seen in ANY earlier batch
    * (`seen`, the persistent fingerprint store — possibly empty) or
    * earlier in this batch (first occurrence by min id wins). Returns
    * the surviving rows with their `text_hash` attached; the caller
    * appends `fingerprints(survivors)` to the store for the next batch.
    *
    * Scale: the in-batch election shuffles on the 16-byte hash; the
    * store probe is an anti join whose both sides carry only hashes
    * and ids — the accumulated corpus's TEXT is never re-read, which
    * is the point: deduping batch N+1 against 100 TB of history costs
    * a join against the (much smaller) hash store, not a re-scan. */
  def dedupAgainstStore(batch: DataFrame, seen: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withH = batch.withColumn("text_hash", md5(col(textCol)))
    val w = Window.partitionBy(col("text_hash")).orderBy(col(idCol))
    withH.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(seen.select(col("text_hash")), Seq("text_hash"), "left_anti")
  }

  /** Batch twin of Structured Streaming's `dropDuplicatesWithinWatermark`
    * (cf. [[graft.stream.Sessionize.dedupWithinWatermark]]): per key,
    * GREEDY anchor selection over event time — the first event is
    * kept, every event within `horizonSec` of the last KEPT event is
    * dropped, and the first event beyond the horizon is kept and
    * becomes the new anchor. This is the strongest deterministic
    * refinement of the streaming contract ("two duplicates closer
    * than the delay never both survive"), so a batch backfill
    * produces a superset-free, replayable baseline the streaming path
    * converges to. Returns the surviving (keyCols..., tsCol) rows;
    * re-attach payloads by joining back and electing a representative
    * (the applyCdc total-order convention).
    *
    * The greedy chain is a prefix-dependent recurrence no single
    * window pass can express. It IS one window pass + pointer
    * DOUBLING (the q43 connected-components discipline): a
    * per-key RANGE window computes f(t) = the first event past
    * t + horizon, and the kept set is the orbit of each key's first
    * event under f — grown as R ← R ∪ f^(2ⁱ)(R) while squaring
    * f^(2ⁱ) ← f^(2ⁱ)∘f^(2ⁱ), which reaches chains of length L in
    * ⌈log₂ L⌉ rounds, not L.
    *
    * Scale: the input contracts to distinct (key, ts) before
    * anything iterates, in one keyed pass, localCheckpoint'd. When
    * that contraction fits the session's broadcast threshold (see
    * [[fetchIfSmall]]) the chains finish on the driver: one bounded
    * fetch, then the exact greedy fold per key — the two-phase shape
    * of Kiveris et al. (SoCC 2014), which spares a small input the
    * ~log₂ L rounds of driver round-trips that otherwise dominate its
    * wall time. Larger inputs pay only that bounded read and then run
    * the doubling loop: every round is two equi-joins on (key, ts)
    * over the contraction plus one count action, each round's frames
    * localCheckpoint'd to cut lineage and the superseded ones released
    * (the connected-components discipline). Horizon state never exists
    * as rows — the RANGE frame reads it off the sort order map-side. */
  def dedupWithinHorizon(df: DataFrame, keyCols: Seq[String],
                         tsCol: String, horizonSec: Long): DataFrame = {
    require(keyCols.nonEmpty, "dedupWithinHorizon needs key columns")
    require(horizonSec >= 0, "horizon must be non-negative")
    // keys are re-extracted from the working struct via col("_k.<name>"),
    // so a dotted key name would silently resolve to a nested field
    require(keyCols.forall(!_.contains(".")),
      s"dedupWithinHorizon key columns must not contain dots: $keyCols")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    val fw = Window.partitionBy(col("_k")).orderBy(col("_t"))
      .rangeBetween(horizonSec + 1, Window.unboundedFollowing)
    // ONE keyed pass builds the whole working set (r16 optimization —
    // previously: a (k,t)-hashed distinct exchange, then a k-hashed
    // window exchange, then a k-hashed groupBy exchange, with the
    // distinct recomputed under both checkpoint actions). The range-min
    // window is duplicate-insensitive, so dedup can run AFTER it, where
    // the frame is already hash(_k)-partitioned and both the (k,t)
    // dedup and the per-key min reuse that exchange (hash(_k) satisfies
    // their clustering), and the checkpoint makes the pass run once.
    val base = df.select(struct(keyCols.map(col): _*).as("_k"),
        col(tsCol).cast("long").as("_t"))
      .filter(col("_t").isNotNull)
      // null timestamps carry no event time to anchor on — excluded,
      // the dropDuplicatesWithinWatermark convention (a null-ts row
      // never enters streaming state either)
      .withColumn("_nxt", min(col("_t")).over(fw))
      .dropDuplicates("_k", "_t")
      .localCheckpoint(true, lvl)
    def emit(kept: DataFrame): DataFrame =
      kept.select(keyCols.map(k => col(s"_k.$k").as(k)) :+
        col("_t").as(tsCol): _*)
    fetchIfSmall(base) match {
      case Some(rows) =>
        release(base)
        // the greedy fold itself: keep a key's first event, then every
        // event strictly past the horizon of the last KEPT one
        val kept = rows.groupBy(_.get(0)).iterator.flatMap { case (k, rs) =>
          rs.map(_.getLong(1)).sorted.foldLeft(List.empty[Long]) {
            case (acc @ last :: _, t) if t - last <= horizonSec => acc
            case (acc, t) => t :: acc
          }.map(t => Row(k, t))
        }.toSeq
        // the distributed loop's (_k, _t) schema, read off its plan
        val schema = base.groupBy(col("_k")).agg(min(col("_t")).as("_t")).schema
        emit(df.sparkSession.createDataFrame(kept.asJava, schema))
      case None => emit(horizonDoubling(base, lvl))
    }
  }

  /** The distributed finish of [[dedupWithinHorizon]]: pointer doubling
    * over the checkpointed (_k, _t, _nxt) contraction `base`, which it
    * releases. Returns the kept (_k, _t) rows. */
  private def horizonDoubling(base: DataFrame,
                              lvl: org.apache.spark.storage.StorageLevel)
      : DataFrame = {
    // f(t): first event strictly past the horizon of t. Chain-end rows
    // (null f) are DROPPED from the jump map: they can never produce a
    // step, and as a jump target a missing row and a null-next row are
    // indistinguishable through the inner joins below — while dropping
    // them shrinks every later self-join (the map contracts
    // geometrically, round i keeps only events with > 2^i
    // horizon-steps remaining, so total join volume is near-linear in
    // events instead of rounds x events)
    var m = base.filter(col("_nxt").isNotNull)
      .select(col("_k"), col("_t"), col("_nxt"))
    var mOwned = false // m is base's projection until the first squaring
    var reach = base.groupBy(col("_k")).agg(min(col("_t")).as("_t"))
      .localCheckpoint(true, lvl)
    var size = reach.count()
    var grown = true
    var rounds = 0
    while (grown && rounds < 64) { // 64 ⇒ chains to 2⁶⁴ — unreachable
      val stepped = reach.join(m, Seq("_k", "_t"))
        .select(col("_k"), col("_nxt").as("_t"))
      // no distinct() needed (r16): before round i, reach holds exactly
      // the anchor-chain positions [0, 2^(i-1)) per key and m is
      // f^(2^(i-1)), so stepped lands on positions [2^(i-1), 2^i) — the
      // chain is strictly increasing in _t (each anchor > predecessor +
      // horizon), so the union is duplicate-free by construction.
      //
      // r17: the jump-map squaring — f^(2i)(t) = f^i(f^i(t)); inner
      // join + null-next drop, so a missing target row behaves exactly
      // like a null _nxt downstream and the contracted map keeps only
      // rows that can still advance — depends ONLY on m, not on the
      // union/count, so the two eager actions of each round overlap
      // (guide §2.6 via Par). Both consume the same CHECKPOINTED
      // parents, so nothing recomputes. On the final round (grown
      // false) the squared map is discarded; by then m has contracted
      // geometrically (round i keeps only events with > 2^i
      // horizon-steps left), so the wasted work is the loop's smallest
      // squaring, not its largest.
      val (nextM, (next, nextSize)) = graft.Par.sections(
        m.as("x").join(
            m.select(col("_k").as("_k2"), col("_t").as("_t2"),
              col("_nxt").as("_n2")).as("y"),
            col("x._k") === col("_k2") && col("x._nxt") === col("_t2"))
          .select(col("x._k").as("_k"), col("x._t").as("_t"),
            col("_n2").as("_nxt"))
          .localCheckpoint(true, lvl),
        {
          val n = reach.unionAll(stepped).localCheckpoint(true, lvl)
          (n, n.count())
        })
      grown = nextSize > size
      if (grown) {
        release(reach)
        if (mOwned) release(m)
        reach = next
        size = nextSize
        m = nextM
        mOwned = true
      } else release(next, nextM)
      rounds += 1
    }
    release(base)
    if (mOwned) release(m)
    reach
  }

  /** All rows of the (checkpointed) working set `df` when it is small
    * enough to finish an iterative operator on the driver, else None.
    * Small means at most the session's `spark.sql.autoBroadcastJoinThreshold`
    * (the size it already agrees to ship whole to every task) in rows
    * of `df`'s schema; a threshold ≤ 0 disables the local finish,
    * exactly as it disables broadcast. One bounded fetch both decides
    * and fetches, so the large path pays only that read. */
  private def fetchIfSmall(df: DataFrame): Option[Array[Row]] = {
    val bytes = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val bound = math.min(bytes / math.max(1, df.schema.defaultSize),
      Int.MaxValue - 1L).toInt
    if (bound <= 0) None
    else Some(df.take(bound + 1)).filter(_.length <= bound)
  }

  /** Frees the storage of localCheckpoint'd frames nothing reads any
    * more — deterministic release instead of waiting for the
    * ContextCleaner to notice them on a GC. Every RDD leaf of each
    * plan is unpersisted, so pass only frames that read nothing but
    * checkpoints the caller owns. */
  private[graft] def release(dfs: DataFrame*): Unit = dfs.foreach(
    _.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
        ()
      case _ => ()
    })

  // ===== exact n-gram Jaccard ==============================================

  /** Capped posting lists of the word-3-gram inverted index: one row
    * per distinct shingle hash with the sorted id array of the docs
    * containing it, hot shingles (postings > maxPostings) dropped.
    * ONE shuffle, keyed on the 8-byte xxhash64 of the shingle (moves
    * 8-byte keys instead of ~40-byte n-gram text; set equality modulo
    * 64-bit collisions, probability ≈ n²/2⁶⁵ — negligible at any
    * feasible corpus size and standard practice). When a cap is set,
    * the aggregation runs through the size-capped `capped_collect`
    * Aggregator: the buffer per key is ≤ cap+1 longs BY CONSTRUCTION
    * (map-side partials included) and hot shingles finish as NULL and
    * are filtered — one corpus shuffle total, no count-aggregate +
    * anti-join pre-pass, no materialization of a hot key's full
    * posting array (which a collect_list + size() filter would build
    * first — the exact blow-up the cap exists to prevent).
    * `checkpoint` is set by callers with MULTIPLE consumers of the
    * frame (jaccardPairs feeds sizes AND pairs from it — re-running
    * the shingle build + aggregate per consumer would double the
    * dominant stage); single-consumer callers skip the materialization
    * round-trip. */
  private def postingLists(docs: DataFrame, maxPostings: Int,
                           idCol: String, textCol: String,
                           checkpoint: Boolean): DataFrame = {
    val sh = shingleRowsFast(docs, 3, idCol, textCol)
      .select(col("id"), xxhash64(col("sh")).as("sh"))
    val posts =
      if (maxPostings == Int.MaxValue)
        sh.groupBy(col("sh"))
          .agg(array_sort(collect_list(col("id"))).as("ids"))
      else
        // null ids are dropped up front: collect_list (the uncapped
        // branch) skips nulls, while the Aggregator's primitive Long
        // encoder would crash on one — keep the branches equivalent
        sh.filter(col("id").isNotNull)
          .groupBy(col("sh"))
          .agg(graft.functions.SketchAggregates
            .capped_collect(maxPostings)(col("id")).as("ids"))
          .filter(col("ids").isNotNull)
    if (checkpoint) posts.localCheckpoint(
      true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    else posts
  }

  /** Ordered co-occurrence pairs from posting lists: every (a, b),
    * a < b, sharing a shingle, with the count of shared shingles. The
    * pair fan-out is generated MAP-SIDE from each sorted id array
    * (posexplode + per-row slice — no self-join, no second shuffle of
    * the shingle rows); the one exchange left is the (a, b) count
    * aggregate, and per-shingle fan-out is bounded by the postings cap
    * (cap² pairs worst case per key). */
  private def postingPairs(posts: DataFrame): DataFrame =
    posts.filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("b"))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("cnt"))

  /** All pairs with word-3-gram Jaccard ≥ `threshold`, via an inverted
    * index: posting lists per shingle, map-side pair explosion, count
    * intersections, compute |A∩B| / (|A|+|B|−|A∩B|).
    *
    * Exact but worst-case quadratic: a shingle shared by k docs yields
    * k² pairs, so one boilerplate shingle in a 100 TB corpus melts a
    * reducer. `maxPostings` bounds that fan-out by removing shingles
    * whose posting list exceeds the cap from the shingle universe —
    * Jaccard is then computed over the filtered universe (consistent on
    * both the intersection AND the set sizes). Hot shingles are
    * stopword-like boilerplate carrying ~no similarity signal, so the
    * capped measure is the one you actually want at scale; with the
    * default (no cap) the measure is exact. At 100 TB prefer
    * `minhashPairs`, which bounds the blowup by band-bucket size. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxPostings: Int = Int.MaxValue,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val posts = postingLists(docs, maxPostings, idCol, textCol,
      checkpoint = true)
    // per-doc set sizes over the SAME capped universe (singleton
    // postings included — only hot shingles are excluded)
    val sizes = posts.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = postingPairs(posts)
    val j = col("cnt").cast("double") /
      (col("na") + col("nb") - col("cnt"))
    // shuffle_hash PINNED on the sizes side: the pair table's size
    // estimate propagates from the checkpointed posting lists and is
    // wildly low on duplicate-dense corpora, so the planner otherwise
    // picks `inter` as a BROADCAST build side — ~10⁸ pairs through the
    // driver at 10× fixture density (found by the sf1-equivalent scale
    // run: q17 OOM'd the BroadcastExchange at 48g). Building the
    // doc-cardinality sizes side per partition is the shape that holds
    // at any corpus size; the pair stream only ever streams.
    inter
      .join(sizes.select(col("id"), col("n").as("na")).hint("shuffle_hash"),
        col("doc_a") === col("id")).drop("id")
      .join(sizes.select(col("id"), col("n").as("nb")).hint("shuffle_hash"),
        col("doc_b") === col("id")).drop("id")
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"),
        TextAnalysis.trunc4(j).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate-pair Jaccard HISTOGRAM — the distribution evidence
    * behind every near-dup threshold decision: [[jaccardPairs]]
    * thresholds the similarity, [[nearDupThresholdSweep]]-style
    * advisors price candidate counts, and this shows the SHAPE they
    * both slice (a bimodal histogram — a dup spike near 1.0 separated
    * from a background hump — means any threshold in the valley is
    * safe; a flat tail means no threshold is, and the pipeline should
    * switch measures). Buckets are EXACT integer deciles of the
    * rational `j = cnt / (na + nb − cnt)`: `bucket = 10·cnt div
    * denom` (0‥10, exact division both engines — no float boundary
    * can flip a pair across buckets).
    *
    * Emits one row per occupied bucket: (bucket, n_pairs,
    * share_micro), ordered.
    *
    * Scale: the same capped inverted-index pair stream as
    * [[jaccardPairs]] (maxPostings bounds the fan-out), two
    * shuffle_hash size joins (the pinned build side — see the q17
    * note), an ≤11-bucket hash aggregate, a window sum over the
    * GROUPED frame. */
  def pairJaccardHistogram(docs: DataFrame,
                           maxPostings: Int = Int.MaxValue,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posts = postingLists(docs, maxPostings, idCol, textCol,
      checkpoint = true)
    val sizes = posts.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = postingPairs(posts)
    inter
      .join(sizes.select(col("id"), col("n").as("na")).hint("shuffle_hash"),
        col("doc_a") === col("id")).drop("id")
      .join(sizes.select(col("id"), col("n").as("nb")).hint("shuffle_hash"),
        col("doc_b") === col("id")).drop("id")
      .select(expr("cnt * 10 div (na + nb - cnt)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("_tot",
        sum(col("n_pairs")).over(Window.partitionBy(lit(1))))
      .select(col("bucket"), col("n_pairs"),
        expr("n_pairs * 1000000 div greatest(_tot, 1)").as("share_micro"))
      .orderBy(col("bucket"))
  }

  /** All pairs with shingle CONTAINMENT ≥ `threshold` — the asymmetric
    * near-dup measure C(a,b) = |A∩B| / min(|A|, |B|) that catches what
    * Jaccard structurally cannot: a short document embedded inside a
    * long one (quote-with-commentary, article-plus-boilerplate,
    * excerpt pages). A 200-shingle doc fully contained in a
    * 4000-shingle doc scores Jaccard 0.05 — invisible at any sane
    * threshold — but containment 1.0. Dedup pipelines run BOTH: Jaccard
    * for same-size near-dups, containment for subset relations
    * (then usually keep the longer doc).
    *
    * Same inverted-index machinery, caps, and scale shape as
    * [[jaccardPairs]] (one posting build, map-side pair explosion,
    * doc-cardinality size joins with the same shuffle_hash pins —
    * the stats-miss-broadcast lesson applies verbatim); emits both
    * scores so consumers can split "mutual near-dup" from "one-way
    * subset". Worst-case quadratic like the exact Jaccard tier — the
    * yardstick form; at 100 TB bound candidates with [[minhashPairs]]
    * first (MinHash estimates Jaccard, not containment, so the
    * LSH-candidates + exact-containment-verify composition is the
    * scale path). */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       maxPostings: Int = Int.MaxValue,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val posts = postingLists(docs, maxPostings, idCol, textCol,
      checkpoint = true)
    val sizes = posts.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = postingPairs(posts)
    val c = col("cnt").cast("double") / least(col("na"), col("nb"))
    val j = col("cnt").cast("double") /
      (col("na") + col("nb") - col("cnt"))
    inter
      .join(sizes.select(col("id"), col("n").as("na")).hint("shuffle_hash"),
        col("doc_a") === col("id")).drop("id")
      .join(sizes.select(col("id"), col("n").as("nb")).hint("shuffle_hash"),
        col("doc_b") === col("id")).drop("id")
      .filter(c >= threshold)
      .select(col("doc_a"), col("doc_b"),
        TextAnalysis.trunc4(c).as("containment"),
        TextAnalysis.trunc4(j).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The SCALE path for containment dedup: rare-shingle blocking +
    * exact verify. MinHash-LSH cannot serve here — its collision
    * probability tracks JACCARD, and the pairs containment exists to
    * catch (short doc inside long doc) have LOW Jaccard by
    * construction. The observation that replaces it: if
    * C(a,b) = |A∩B|/|A| ≥ τ for the smaller doc A, then A shares ≥
    * τ·|A| of its shingles with B — so unless A's k RAREST shingles
    * all fall in its un-shared (1−τ) tail, at least one rare shingle
    * of A is also in B, and the pair surfaces from a join keyed on
    * rare shingles. The candidate join is PICK-vs-POSTINGS, not
    * pick-vs-pick: each doc's `kRare` rarest shingles (ties broken by
    * the shingle string — deterministic) probe the FULL posting lists
    * of blocking-eligible shingles (global document frequency ≤
    * `maxDf`), so a pair (A ⊆ B) surfaces whenever ANY of A's picks
    * is present in B at all — B's own picks are irrelevant. (A
    * pick-vs-pick self-join would silently drop pairs whose shared
    * rare shingle falls outside the longer doc's top-kRare list.)
    * Rarity keeps the join bounded: a blocking key fans out to ≤
    * maxDf postings on the probe side, so each pick generates ≤ maxDf
    * candidates and a doc generates ≤ kRare·maxDf. The residual
    * recall gap is exactly: pairs where ALL kRare of the smaller
    * doc's rarest eligible shingles fall in its un-shared tail, whose
    * size is < (1−τ)·|A| — vanishing for τ near 1 or kRare large
    * relative to (1−τ)·|A|, and measured (not assumed) by the q176
    * gate, which hard-fails below its floor. A doc whose every
    * shingle is commoner than maxDf (pure boilerplate) gets no
    * candidates — those are the exact-dup/boilerplate tier's job, not
    * a containment screen's.
    *
    * Verification is EXACT on the candidates (per-pair intersection
    * via an id-then-(id, shingle) join — volume Σ_pairs |A|, linear
    * in candidates × doc size), over the same maxPostings-capped
    * universe as [[containmentPairs]], so every emitted score equals
    * the exact operator's for that pair; only RECALL is approximate,
    * and q176 gates it against the exact pair set the q144 way.
    * Output schema matches [[containmentPairs]]. */
  def containmentPairsBlocked(docs: DataFrame, threshold: Double,
                              kRare: Int = 8, maxDf: Long = 64,
                              maxPostings: Int = 1000,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleRowsFast(docs, 3, idCol, textCol)
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
    // capped universe (q17/q168 semantics) — THREE consumers (sizes,
    // rare pick, both verify sides), so materialize once
    val uni = sh.join(dfreq.hint("shuffle_hash"), Seq("sh"))
      .filter(col("_df") <= maxPostings)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sizes = uni.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val rare = uni.filter(col("_df") <= maxDf)
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("_df"), col("sh"))))
      .filter(col("_rk") <= kRare)
      .select(col("sh"), col("id"))
    // probe side: FULL posting lists of eligible shingles (not the
    // per-doc picks) — the pick-vs-postings shape the scaladoc
    // guarantee requires; pairs normalized (least, greatest) so a hit
    // from either direction dedups to one candidate
    val rareAll = uni.filter(col("_df") <= maxDf)
      .select(col("sh"), col("id"))
    val cand = rare.as("ra").join(rareAll.as("rb"),
        col("ra.sh") === col("rb.sh") && col("ra.id") =!= col("rb.id"))
      .select(least(col("ra.id"), col("rb.id")).as("a"),
        greatest(col("ra.id"), col("rb.id")).as("b"))
      .distinct()
    val inter = cand
      .join(uni.select(col("id").as("a"), col("sh")), Seq("a"))
      .join(uni.select(col("id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
    val c = col("cnt").cast("double") / least(col("na"), col("nb"))
    val j = col("cnt").cast("double") /
      (col("na") + col("nb") - col("cnt"))
    inter
      .join(sizes.select(col("id"), col("n").as("na")).hint("shuffle_hash"),
        col("a") === col("id")).drop("id")
      .join(sizes.select(col("id"), col("n").as("nb")).hint("shuffle_hash"),
        col("b") === col("id")).drop("id")
      .filter(c >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        TextAnalysis.trunc4(c).as("containment"),
        TextAnalysis.trunc4(j).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ===== MinHash + LSH =====================================================

  /** k-component MinHash signature: component i is
    * min over shingles of xxhash64(h(shingle), i) — the seed column
    * makes xxhash64 a cheap hash family, and it runs over the 8-byte
    * shingle hash rather than the string, so each shingle is
    * string-hashed once, not k times (and the distinct-shingle shuffle
    * moves 8-byte keys).
    *
    * Computed as one hash-aggregate over exploded shingles with k
    * partial `min`s: xxhash64 and min are codegen'd (the nested
    * higher-order alternative runs interpreted and gets re-evaluated on
    * every downstream reference — measured 170× slower), map-side
    * combine reduces the shuffle to one (id, k longs) row per doc, and
    * the aggregate is a materialization barrier so banding never
    * recomputes the signature. Docs with zero shingles drop out. */
  def minhashSignatures(docs: DataFrame, k: Int = 64,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        scheme: HashScheme = FastHash): DataFrame = {
    val sh = shingleRowsFast(docs, 3, idCol, textCol)
      .select(col("id"), scheme.one(col("sh")).as("s"))
    val mins = (0 until k).map(i => min(scheme.seeded(col("s"), i)).as(s"m$i"))
    sh.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("mh"))
  }

  /** Near-dup pairs via banded LSH over MinHash signatures: signatures
    * split into `bands` bands of k/bands rows each; docs sharing any
    * band-hash become candidates; candidates are verified against the
    * full signature (estimated Jaccard = matching components / k).
    *
    * Scale: the only shuffle keys are (band, bandHash) — collision
    * groups are the LSH buckets, so join fan-out is bounded by bucket
    * size, not corpus size. AQE handles residual bucket skew. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5,
                   k: Int = 64, bands: Int = 16,
                   maxBucketSize: Int = Int.MaxValue,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   scheme: HashScheme = FastHash): DataFrame = {
    // materialize once: banding + the two per-side signature re-joins are
    // three consumers, and the shingle explode + k-way min aggregate is
    // the expensive stage (measured ~2× on the registered q18)
    val sigs = minhashSignatures(docs, k, idCol, textCol, scheme)
      .localCheckpoint(
        true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    withEstJaccard(
        bandedCandidates(sigs, k, Seq(bands), maxBucketSize, scheme), sigs, k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Signature verification: attaches `est_jaccard` (matching
    * components / k, truncated to 4 dp) to each candidate id pair. */
  private def withEstJaccard(cand: DataFrame, sigs: DataFrame,
                             k: Int): DataFrame = {
    // merge PINNED: the scaladoc's "spillable sort-merge" contract was
    // only a planner default — a low estimate on `cand` (stats
    // propagate from the checkpointed signatures) would flip it to a
    // broadcast build of the PAIR table, the q17 scale failure shape
    val withSigs = cand
      .join(sigs.select(col("id").as("doc_a"), col("mh").as("mh_a"))
        .hint("merge"), Seq("doc_a"))
      .join(sigs.select(col("id").as("doc_b"), col("mh").as("mh_b"))
        .hint("merge"), Seq("doc_b"))
    val est = size(filter(zip_with(col("mh_a"), col("mh_b"),
      (x, y) => x === y), b => b)) / lit(k.toDouble)
    withSigs.withColumn("est_jaccard", TextAnalysis.trunc4(est))
      .drop("mh_a", "mh_b")
  }

  /** Just the candidate-generation half: banded LSH buckets → distinct
    * id pairs (doc_a < doc_b), BEFORE signature verification, for
    * every band setting of `bandsList` at once. Setting i's bands are
    * tagged with bit 2^i, buckets are keyed by (bit, band, hash), and
    * each pair carries `_mask`: the OR of the bits of the settings
    * whose buckets produced it. The raw candidate volume per setting
    * is the verify-stage cost the band setting actually buys or
    * saves, so the sweep reports it per point. */
  private def bandedCandidates(sigs: DataFrame, k: Int, bandsList: Seq[Int],
                               maxBucketSize: Int,
                               scheme: HashScheme): DataFrame = {
    require(bandsList.size <= 63, "at most 63 band settings (one mask bit each)")
    val bandStructs = bandsList.zipWithIndex.flatMap { case (bands, i) =>
      require(k % bands == 0, s"bands=$bands must divide k=$k")
      val r = k / bands
      (0 until bands).map { b =>
        struct(lit(1L << i).as("bit"), lit(b).as("band"),
          scheme.band(slice(col("mh"), b * r + 1, r)).as("bh"))
      }
    }
    val banded = sigs.select(
      col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.bit").as("bit"), col("bb.band").as("band"),
        col("bb.bh").as("bh"))
    val bucket = Seq("bit", "band", "bh")
    // Optional degenerate-bucket guard: a bucket of m near-identical docs
    // yields m²/2 candidates; above the cap that is better handled by
    // exact dedup first. Skipping is explicit opt-in via maxBucketSize.
    val bounded = if (maxBucketSize == Int.MaxValue) banded else {
      val sizes = banded.groupBy(bucket.map(col): _*)
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") <= maxBucketSize)
      // bucket-cardinality side builds per partition (never the stream)
      banded.join(sizes.select(bucket.map(col): _*).hint("shuffle_hash"),
        bucket)
    }
    // Candidates carry ONLY id pairs — carrying both k-long signatures
    // through the bucket join multiplies its shuffle/memory footprint by
    // ~2k×8 bytes per pair and OOMs on duplicate-heavy corpora (found by
    // ScaleProbe at 1M docs); the signature re-joins are spillable
    // sort-merge joins keyed on id.
    bounded.as("a")
      .join(bounded.as("b"), bucket)
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(bit_or(col("bit")).as("_mask"))
  }

  /** LSH band-count tuning sweep — the MinHash analogue of the IVF
    * nProbe sweep: recall/precision of the banded pair set against the
    * exact n-gram Jaccard pairs at each band setting, ONE gate row per
    * operating point, from a single signature pass and a single exact
    * reference. More bands (shorter band width r = k/bands) is more
    * permissive; when each setting refines the previous one's band
    * boundaries (enforced: each bands value divides the next), the
    * candidate sets NEST and the final pair sets nest with them (the
    * est-Jaccard filter is per-pair and setting-independent) — so
    * `recall_monotone_ok` pins a theorem, exactly like
    * [[graft.ext.Similarity.ivfRecallSweep]]'s flag. Precision is a
    * measured tradeoff, not a theorem: more candidates admit more
    * sub-threshold pairs.
    *
    * Emits (bands, n_exact, n_raw_candidates, n_candidate, n_common,
    * recall_micro, precision_micro, recall_monotone_ok) ordered by
    * bands — null ratios on empty denominators (the [[pairSetEval]]
    * convention). `n_raw_candidates` is the PRE-verification bucket
    * pair count — the verify-stage cost each setting buys, and the
    * column that separates settings even when the verified pair sets
    * converge (easy corpora saturate recall at every setting; the
    * cost still triples from 4 to 16 bands).
    *
    * Scale: ONE plan for every setting, over one eagerly pinned
    * signature pass (its three readers — banding and the two verify
    * joins — must not replay it): one banding explode of all settings'
    * bands (Σ bands × corpus skinny rows), one bucket self-join, the
    * distinct candidate pairs with their per-setting membership mask,
    * one signature verify, one full outer join against the exact
    * pairs, and one conditional-count aggregate, exploded back to one
    * row per setting. The mask keeps every count exact per setting
    * without leaning on the nesting, so a finite `maxBucketSize` stays
    * correct; at most 63 settings.
    * `maxBucketSize` bounds the bucket join's per-bucket blowup exactly
    * as in [[minhashPairs]] — the default Int.MaxValue keeps the strict
    * nesting theorem (`recall_monotone_ok` pins it) but makes the
    * bucket join unbounded on duplicate-heavy corpora, so it is a
    * hard precondition that the input be a SAMPLE sized for it (the
    * deployment shape anyway: at 100 TB the sweep runs on a sample,
    * the chosen setting serves the corpus). Passing a finite cap
    * bounds the join on any input but WEAKENS the theorem: a bucket
    * can fall under the cap at one band setting and over it at a
    * coarser one, so monotonicity of the measured recall is no longer
    * structurally guaranteed — read `recall_monotone_ok` as a
    * measurement then, not a pinned invariant. */
  def lshBandSweep(docs: DataFrame, threshold: Double = 0.5,
                   k: Int = 64, bandsList: Seq[Int] = Seq(4, 8, 16),
                   maxPostings: Int = 1000,
                   maxBucketSize: Int = Int.MaxValue,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   scheme: HashScheme = FastHash): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    require(bandsList.nonEmpty && bandsList == bandsList.sorted &&
      bandsList.distinct == bandsList,
      "bandsList must be distinct and ascending")
    require(bandsList.forall(b => b >= 1 && k % b == 0),
      s"every bands value must divide k=$k")
    require(bandsList.sliding(2).forall(p =>
      p.length < 2 || p(1) % p(0) == 0),
      "each bands value must divide the next (aligned band refinement " +
        "— the nesting the monotone flag pins)")
    val sigs = minhashSignatures(docs, k, idCol, textCol, scheme)
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val cand = withEstJaccard(
        bandedCandidates(sigs, k, bandsList, maxBucketSize, scheme), sigs, k)
      .select(col("doc_a"), col("doc_b"), col("_mask"),
        (col("est_jaccard") >= threshold).as("_ok"))
    val exact = jaccardPairs(docs, threshold, maxPostings, idCol, textCol)
      .select(col("doc_a"), col("doc_b"), lit(true).as("_ex"))
    // null-safe conditional counts: an exact-only row has a null mask,
    // a candidate-only row a null _ex — both read as "not counted"
    def has(i: Int) = col("_mask").bitwiseAND(lit(1L << i)) =!= 0L
    def n(c: Column) = count(when(c, 1))
    val counts = bandsList.indices.flatMap { i =>
      Seq(n(has(i)).as(s"_r$i"), n(has(i) && col("_ok")).as(s"_c$i"),
        n(has(i) && col("_ok") && col("_ex")).as(s"_m$i"))
    }
    val sweep = cand.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_ex")).as("n_exact"), counts: _*)
      .select(col("n_exact"), explode(array(bandsList.zipWithIndex.map {
        case (b, i) => struct(lit(b.toLong).as("bands"),
          col(s"_r$i").as("n_raw_candidates"), col(s"_c$i").as("n_candidate"),
          col(s"_m$i").as("n_common"))
      }: _*)).as("p"))
      .select(col("p.bands").as("bands"), col("n_exact"),
        col("p.n_raw_candidates").as("n_raw_candidates"),
        col("p.n_candidate").as("n_candidate"),
        col("p.n_common").as("n_common"))
      .select(col("*"),
        expr("CASE WHEN n_exact > 0 THEN " +
          "n_common * 1000000 div n_exact END").as("recall_micro"),
        expr("CASE WHEN n_candidate > 0 THEN " +
          "n_common * 1000000 div n_candidate END")
          .as("precision_micro"))
    val w = Window.orderBy(col("bands"))
    sweep.withColumn("recall_monotone_ok",
        (coalesce(col("recall_micro"), lit(0L)) >=
          coalesce(lag(col("recall_micro"), 1).over(w), lit(0L)))
          .cast("long"))
      .orderBy(col("bands"))
  }

  /** Operating-point advisor over a measured [[lshBandSweep]] frame —
    * the bands decision the sweep exists to inform (the
    * threshold-advisor pattern on the LSH dial): every RAW banded
    * candidate costs a signature compare downstream, so the verify
    * budget caps how many bands the index can afford. Among band
    * counts whose measured n_raw_candidates fits `candidateBudget`,
    * take the LARGEST (aligned band refinement nests the candidate
    * sets, so recall is monotone non-decreasing in bands — the
    * sweep's pinned theorem — and the largest qualifying bands
    * maximizes recall); if none fit, fall back to the
    * fewest-candidates point. Emits one row: (chosen_bands, n_exact,
    * n_raw_candidates, n_candidate, n_common, recall_micro,
    * budget_candidates, n_points, n_qualifying).
    *
    * Scale: arithmetic over the ≤|bandsList| sweep frame; the
    * measurement cost lives in the sweep. */
  def lshBandAdvisor(sweep: DataFrame, candidateBudget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ok = (col("n_raw_candidates") <= candidateBudget).cast("long")
    // qualifying points rank by bands DESC (max recall within budget);
    // non-qualifying by n_raw_candidates ASC (least overshoot first)
    val w = Window.orderBy(col("ok").desc,
      when(col("ok") === 1L, -col("bands"))
        .otherwise(col("n_raw_candidates")).asc,
      col("bands").asc)
    sweep.withColumn("ok", ok)
      .withColumn("n_points", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_qualifying", sum(col("ok")).over(
        Window.partitionBy(lit(1))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("bands").as("chosen_bands"), col("n_exact"),
        col("n_raw_candidates"), col("n_candidate"), col("n_common"),
        col("recall_micro"),
        lit(candidateBudget).as("budget_candidates"),
        col("n_points"), col("n_qualifying"))
  }

  /** Log-structured election-store compaction audit — the read-
    * amplification gate for [[graft.stream.ElectionStream]]'s store
    * layout (and any append-per-batch keep-best store): every read
    * folds ALL appended rows back to one row per key, so the
    * store-rows / live-keys ratio is exactly the wasted read work a
    * compaction (rewriting the store as [[graft.stream.ElectionStream
    * .bestPerKey]]) would reclaim. Batches are simulated from
    * `batchCol`; per (key, batch) the batch winner is computed, and a
    * winner counts as APPENDED iff no earlier batch produced a winner
    * that beats it under (pref DESC, id ASC) — the stream's
    * upgrade-only append rule. `winners_rows` is the unconditional
    * append upper bound (the naive writer).
    *
    * Emits one row: (n_batches, n_keys_live, winners_rows,
    * appended_rows, dead_rows, read_amp_micro, upper_amp_micro,
    * compact_recommended) — compaction is recommended when the
    * actual amplification exceeds `ampThresholdMicro`.
    *
    * Scale shape: one keyed window per (key, batch); the earlier-
    * better probe is an equi-join on the key over the winners frame
    * (|keys| × |batches| rows, multiplicity ≤ |batches| per key —
    * bounded, never corpus²); three scalar aggregates attached as
    * 1-row broadcasts. */
  def electStoreCompactionStats(docs: DataFrame, keyCol: Column,
                                prefCol: Column, batchCol: Column,
                                ampThresholdMicro: Long = 2000000L,
                                idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), keyCol.as("k"),
      prefCol.cast("long").as("pref"), batchCol.cast("long").as("batch"))
    val wBatch = Window.partitionBy(col("k"), col("batch"))
      .orderBy(col("pref").desc, col("id").asc)
    // three consumers below — checkpoint the tiny winners frame once
    val winners = base
      .withColumn("_rn", row_number().over(wBatch))
      .filter(col("_rn") === 1)
      .select(col("k"), col("batch"), col("pref"), col("id"))
      .localCheckpoint(true)
    val earlier = winners.select(col("k").as("_k"), col("batch").as("_b"),
      col("pref").as("_p"), col("id").as("_i"))
    val appended = winners.join(earlier,
        col("k") === col("_k") && col("_b") < col("batch") &&
          (col("_p") > col("pref") ||
            (col("_p") === col("pref") && col("_i") <= col("id"))),
        "left_anti")
      .agg(count(lit(1)).as("appended_rows"))
    val totals = winners.agg(
      countDistinct(col("k")).as("n_keys_live"),
      countDistinct(col("batch")).as("n_batches"),
      count(lit(1)).as("winners_rows"))
    totals.crossJoin(broadcast(appended))
      .select(col("n_batches"), col("n_keys_live"), col("winners_rows"),
        col("appended_rows"),
        (col("appended_rows") - col("n_keys_live")).as("dead_rows"),
        expr("appended_rows * 1000000 div greatest(n_keys_live, 1)")
          .as("read_amp_micro"),
        expr("winners_rows * 1000000 div greatest(n_keys_live, 1)")
          .as("upper_amp_micro"),
        (expr("appended_rows * 1000000 div greatest(n_keys_live, 1)")
          > ampThresholdMicro).cast("long").as("compact_recommended"))
  }

  /** Survivor selection from a near-dup pair list (doc_a < doc_b): drop
    * every doc that appears as the larger id of any pair. This is the
    * standard one-pass approximation of connected-component dedup —
    * transitive chains collapse to their minimum id when pairs are
    * transitively closed (LSH pairs largely are, since near-dup groups
    * form cliques); a full iterative union-find is only warranted when
    * chains without direct edges matter. One anti-join, no iteration. */
  def survivors(docs: DataFrame, pairs: DataFrame,
                idCol: String = "doc_id"): DataFrame =
    docs.join(pairs.select(col("doc_b").as("_drop")).distinct(),
        col(idCol) === col("_drop"), "left_anti")

  /** Pairs of docs sharing at least `minShared` distinct 3-gram
    * shingles — a deliberately weak link relation whose transitive
    * closure forms long chains (A shares boilerplate with B, B with C,
    * no A–C pair), used to exercise exact `components`. Same inverted-
    * index shape as `jaccardPairs`, same `maxPostings` hot-shingle
    * guard. */
  def coShinglePairs(docs: DataFrame, minShared: Long = 2,
                     maxPostings: Int = Int.MaxValue,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    postingPairs(postingLists(docs, maxPostings, idCol, textCol,
        checkpoint = false))
      .filter(col("cnt") >= minShared)
      .select(col("doc_a"), col("doc_b"))

  /** [[coShinglePairs]] restricted to pairs TOUCHING the `isNew`
    * subset — the incremental-crawl access pattern behind
    * [[incrementalComponents]]: when a daily batch adds 0.1% new docs,
    * only new×old and new×new links can change the labelling, so
    * old×old pairs must never MATERIALIZE (filtering them after a full
    * pair expansion pays the quadratic cost incremental maintenance
    * exists to skip).
    *
    * Shape: posting lists are built over the FULL corpus (a new doc's
    * neighbours are old, so old ids must sit in the lists) with the
    * is-new flag packed into each posting's low bit (id·2+flag — order
    * and the `maxPostings` cap behave exactly as the unpacked lists,
    * one extra bit per id; requires id < 2⁶²). Pair expansion then
    * selects the new subset of each list with an in-array filter
    * (O(k) per LIST — interpreted, but this is the one place the HOF
    * beats the codegen alternative: exploding the full list first
    * copies the k-element array into k UnsafeRows, k² element copies
    * per list, which probe-measured SLOWER than the full expansion it
    * was meant to undercut) and pairs each new element with the full
    * list: per-list cost k_new·k instead of k²/2. Both-new pairs
    * dedup by packed order; shared-shingle counts and the emitted
    * (doc_a < doc_b) pairs are EXACTLY
    * `coShinglePairs(docs).filter(touching isNew)` (ExtSpec pins
    * frame equality). */
  def coShinglePairsTouching(docs: DataFrame, isNew: Column,
                             minShared: Long = 2,
                             maxPostings: Int = Int.MaxValue,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val packed = docs.select(
      (col(idCol) * 2 + isNew.cast("long")).as(idCol), col(textCol))
    postingLists(packed, maxPostings, idCol, textCol, checkpoint = false)
      .filter(size(col("ids")) >= 2)
      .select(col("ids"),
        explode(filter(col("ids"), x => x.bitwiseAND(1) === 1)).as("p"))
      .select(col("p"), explode(col("ids")).as("q"))
      .filter(col("q") =!= col("p") &&
        (col("q").bitwiseAND(1) === 0 || col("q") > col("p")))
      .groupBy(
        least(shiftright(col("p"), 1), shiftright(col("q"), 1)).as("doc_a"),
        greatest(shiftright(col("p"), 1), shiftright(col("q"), 1)).as("doc_b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minShared)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Pair-set evaluation — recall and precision of a CANDIDATE pair
    * generator against an EXACT reference pair set, the index-eval
    * every LSH deployment needs before trusting its band/row
    * parameters (the [[graft.ext.Similarity.annRecall]] pattern for
    * the dedup tier): n_common = |exact ∩ candidate|, recall =
    * n_common/n_exact, precision = n_common/n_candidate, both
    * micro-quantized. Pass e.g. `jaccardPairs` output as `exact` and
    * `minhashPairs` as `candidate`; under [[OracleHash]] the whole
    * composition is deterministic and DuckDB-replayable (q144).
    *
    * Scale: both inputs are already bounded pair pipelines; they are
    * checkpointed DISK_ONLY so each side's (expensive) generation runs
    * ONCE across its two consumers without pinning multi-million-pair
    * deserialized blocks in the heap (the default MEMORY_AND_DISK
    * blocks measurably GC-taxed the NEXT queries in a shared JVM —
    * the q120→q13 bleed mechanism, via retention instead of garbage);
    * everything downstream is pair-cardinality counts + 1-row
    * broadcasts. At full corpus scale run the eval on a DOCUMENT
    * SAMPLE — the exact reference side is the quadratic yardstick
    * tier by definition, and recall measured on a uniform doc sample
    * estimates corpus recall unbiasedly. */
  def pairSetEval(exact: => DataFrame, candidate: => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // by-name args + Par: the two pair generators are independent
    // pipelines with their own internal eager checkpoints (posting
    // builds, signature aggregates) — build and pin them CONCURRENTLY
    // (guide §2.6) so the eval costs ~max(side) instead of sum(sides);
    // each side's plan and result are unchanged
    val (ex, cd) = graft.Par.sections(
      exact.select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY),
      candidate.select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY))
    val ne = ex.agg(count(lit(1)).as("n_exact"))
    val nc = cd.agg(count(lit(1)).as("n_candidate"))
    val com = ex.join(cd, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    // an empty reference or candidate set (plausible at strict
    // thresholds) must yield a NULL ratio, not a NaN/Infinity that the
    // ANSI long cast turns into a whole-query failure
    ne.crossJoin(broadcast(nc)).crossJoin(broadcast(com))
      .select(col("n_exact"), col("n_candidate"), col("n_common"),
        when(col("n_exact") > 0,
          round(col("n_common").cast("double") * 1e6 / col("n_exact"))
            .cast("long")).as("recall_micro"),
        when(col("n_candidate") > 0,
          round(col("n_common").cast("double") * 1e6 / col("n_candidate"))
            .cast("long")).as("precision_micro"))
  }

  /** Exact connected components of a near-dup pair graph (doc_a <
    * doc_b): every node labelled with the minimum id reachable from it.
    * Iterative min-label propagation to a fixpoint — each round every
    * node takes the min of its own label and its neighbours' labels, so
    * indirect chains (A–B, B–C with no A–C edge) collapse correctly
    * where the one-pass `survivors` approximation would keep C.
    *
    * Scale: the bidirectional edge list is built once and
    * checkpointed. When it fits the session's broadcast threshold (see
    * [[fetchIfSmall]]) the labelling finishes on the driver: one
    * bounded fetch, union-find, each node labelled with its
    * component's minimum id — the label the distributed loop converges
    * to, without its per-round driver round-trips (the two-phase shape
    * of Kiveris et al., SoCC 2014). Larger edge lists pay only that
    * bounded read, then propagate: each round is a neighbor-min step
    * (equi-join + aggregate on node ids) followed by TWO pointer-
    * jumping steps (labels re-labelled through the stepped map,
    * `comp := label(comp)`), so the label-travel distance grows
    * d → 3(d+1) per round and convergence is O(log diameter) with a
    * smaller round count than a single jump. Per-round driver
    * round-trips are the fixed cost, so each round runs exactly TWO
    * actions: the stepped checkpoint (the jumps self-join its map —
    * without the materialization each branch would re-execute the
    * edge join), and the next-labels checkpoint whose plan both jumps
    * fuse into, with the convergence count read from an observe()
    * metric on that same action instead of a separate count job.
    * Superseded checkpoints are released as the loop moves on.
    * Returns (doc_id, component). */
  def components(pairs: DataFrame): DataFrame =
    componentsWithRounds(pairs)._1

  /** `components` plus the number of propagation rounds it ran —
    * exposed so tests can pin the convergence speedup of the
    * double-jump (a chain graph must collapse in O(log₈ d) rounds).
    * A local finish runs no propagation round and reports 0. */
  def componentsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    // DISK_ONLY for the edge set: a dup-heavy corpus yields 10⁸+ pairs
    // and the default deserialized MEMORY_AND_DISK blocks OOM'd the 1M-doc
    // probe; edges are scanned once per round, so disk reads are cheap
    // relative to the join. Labels are small (one row per node) and stay
    // in memory, serialized.
    // Both edge directions come from ONE pass over the pair plan
    // (explode of a 2-struct array) — a unionAll of pairs with its swap
    // re-executes the pair plan per branch (exchange reuse dedups the
    // shuffle write, not the post-shuffle join+aggregate). Small at
    // sf0.1 where checkpointed signatures dominate; at probe scale the
    // post-shuffle candidate join IS the dominant cost, so halving it
    // matters there.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // Seed each node's label with min(self, direct neighbours) — the
    // same single aggregate that enumerates the node set (every node
    // appears as v in the bidirectional edge list), so round one of the
    // propagation is free and chains of length ≤ 1 converge immediately.
    val seed = edges.groupBy(col("v").as("id"))
      .agg(least(min(col("u")), col("v")).as("comp"))
    def emit(labels: DataFrame): DataFrame =
      labels.select(col("id").as("doc_id"), col("comp").as("component"))
    // the local finish needs Spark's order on the ids: long doc ids and
    // string names (Linkage) have it on the driver, as numeric and
    // UTF-8 byte order; other id types, and null ids, take the loop
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val lt: Option[(Any, Any) => Boolean] = edges.schema("u").dataType match {
      case LongType => Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case StringType => Some((a, b) =>
        fromString(a.asInstanceOf[String])
          .compareTo(fromString(b.asInstanceOf[String])) < 0)
      case _ => None
    }
    val local = lt.flatMap(_ => fetchIfSmall(edges))
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    local match {
      case Some(rows) =>
        release(edges)
        val labels = minLabels(rows.map(r => (r.get(0), r.get(1))), lt.get)
        (emit(edges.sparkSession.createDataFrame(
          labels.map { case (n, c) => Row(n, c) }.asJava, seed.schema)), 0)
      case None =>
        val (labels, rounds) = labelPropagation(edges, seed)
        (emit(labels), rounds)
    }
  }

  /** Union-find over an edge list; one (node, component minimum under
    * `lt`) pair per node. Roots are always their component's minimum,
    * so a root lookup is the label. */
  private def minLabels(edges: Array[(Any, Any)],
                        lt: (Any, Any) => Boolean): Seq[(Any, Any)] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (parent(y) != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (lt(ra, rb)) parent(rb) = ra else if (lt(rb, ra)) parent(ra) = rb
    }
    parent.keysIterator.toVector.map(n => (n, find(n)))
  }

  /** The distributed finish of [[componentsWithRounds]]: min-label
    * propagation from `seed` over the checkpointed `edges`, which it
    * releases. Returns the (id, comp) labels and the round count. */
  private def labelPropagation(edges: DataFrame,
                               seed: DataFrame): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    var labelsCp = seed.localCheckpoint(true, lvl) // the frame labels reads
    var labels = labelsCp
    var changed = 1L
    var rounds = 0
    // every label-map join is PINNED shuffle_hash with the label side
    // as build: checkpointed frames carry no reliable size statistics,
    // and the planner's static fallback once chose the EDGE list as a
    // broadcast build — ~200M rows at the 30× probe, an 8 GiB
    // broadcast attempt that killed the job (the q18 merge-pin lesson,
    // stats-miss variant). The hinted side is node-cardinality (one
    // row per doc), so each partition's hash build is small; AQE may
    // still legitimately demote it to a runtime broadcast when it
    // measures small — the hint only forbids the planner from ever
    // building the edge side.
    while (changed > 0) {
      val neigh = edges
        .join(labels.select(col("id").as("u"), col("comp").as("ncomp"))
          .hint("shuffle_hash"), Seq("u"))
        .groupBy(col("v").as("id"))
        .agg(min(col("ncomp")).as("nmin"))
      val stepped = labels.join(neigh.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          col("comp").as("prev"))
        .localCheckpoint(true, lvl)
      // pointer jumps: follow the label one hop through the stepped
      // map (comp := stepped's label of comp). Any such re-label keeps
      // the invariant (labels only decrease, stay in-component, never
      // pass the component min), so extra jumps are free accuracy;
      // both jumps reference the SAME checkpointed map, so the fused
      // plan re-reads a label-sized cache, never the edge join
      val map = stepped.select(col("id").as("comp"), col("comp").as("_jump"))
      def jump(m: DataFrame): DataFrame = m
        .join(map.hint("shuffle_hash"), Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("_jump"), col("comp"))).as("comp"),
          col("prev"))
      val obs = org.apache.spark.sql.Observation()
      val next = jump(jump(stepped))
        .observe(obs, sum(when(col("comp") < col("prev"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint(true, lvl)
      // the observe metric rides the checkpoint action — no count job.
      // That it does relies on Dataset.checkpoint running via withAction
      // (which posts QueryExecutionListener events) — a Spark internal,
      // not a documented contract — so wait BOUNDED and fall back to an
      // explicit count over the checkpointed frame: a Spark behavior
      // change costs one extra cheap job instead of hanging forever.
      // null metric (empty label frame — no pairs) means converged.
      changed = awaitMetric(obs, "changed").getOrElse(
        next.filter(col("comp") < col("prev")).count())
      release(stepped, labelsCp)
      labelsCp = next
      labels = next.drop("prev")
      rounds += 1
    }
    release(edges)
    (labels, rounds)
  }

  /** Bounded wait for an `Observation` metric: Some(value) once the
    * backing action posts it (a null sum — empty frame — reads as 0),
    * None if nothing arrives within the timeout. `Observation.get`
    * blocks forever when no listener event fires, which turns a Spark
    * internals change into a hang; this turns it into a fallback. */
  private def awaitMetric(obs: org.apache.spark.sql.Observation,
                          name: String,
                          timeoutMs: Long = 30000L): Option[Long] = {
    import org.apache.spark.sql.graft.ObservationBridge.peek
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var row = peek(obs)
    while (row.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(10L)
      row = peek(obs)
    }
    if (row.isEmpty) None
    else Some(Option(row(name)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Exact survivor selection: keep only each component's minimum id.
    * Unlike `survivors`, indirect chains collapse fully. */
  def survivorsExact(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id"): DataFrame = {
    val drop = components(pairs)
      .filter(col("component") < col("doc_id"))
      .select(col("doc_id").as("_drop"))
    docs.join(drop, col(idCol) === col("_drop"), "left_anti")
  }

  /** Quality-weighted survivor selection: within each near-dup
    * component keep the HIGHEST-scoring member (ties to the smaller
    * id), not the smallest id — the canonicalization real curation
    * pipelines want (of N scraped copies, keep the cleanest, not the
    * earliest-crawled). Emits one row per component member:
    * (id, component, keep_id, n_members, kept).
    *
    * Scale shape: `components` bounds the iterative part; scores join
    * in on the component members only (a contraction — isolated docs
    * never enter), and the election is a max(struct) argmax inside
    * the per-component aggregate, re-joined on the component key —
    * no ranking window over the membership. */
  def survivorsByScore(docs: DataFrame, pairs: DataFrame, score: Column,
                       idCol: String = "doc_id"): DataFrame =
    survivorsByScoreFromComponents(docs, components(pairs), score, idCol)

  /** `survivorsByScore` taking an ALREADY-COMPUTED (doc_id, component)
    * frame — the reuse seam: a session computing components once (e.g.
    * a curation run that also reports component sizes) passes the same
    * materialized frame here instead of re-running pair generation +
    * label propagation per consumer. Election semantics identical. */
  def survivorsByScoreFromComponents(docs: DataFrame, comps: DataFrame,
                                     score: Column,
                                     idCol: String = "doc_id"): DataFrame = {
    val member = comps
      .join(docs.select(col(idCol).as("doc_id"), score.as("_score")),
        "doc_id")
    val keep = member.groupBy(col("component"))
      .agg(max(struct(col("_score").as("s"), (-col("doc_id")).as("nid")))
          .as("m"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("m.nid")).as("keep_id"),
        col("n_members"))
    member.join(keep, "component")
      .select(col("doc_id"), col("component"), col("keep_id"),
        col("n_members"),
        (col("doc_id") === col("keep_id")).cast("long").as("kept"))
  }

  /** One-call fuzzy dedup: MinHash-LSH near-dup pairs at `threshold`,
    * then keep the min-id survivor of each clique. The full-corpus
    * curation entry point — everything inside is bucket-bounded. */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.5,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    survivors(docs, minhashPairs(docs, threshold, idCol = idCol,
      textCol = textCol), idCol)

  /** One-call exact-survivor fuzzy dedup: LSH candidate pairs, exact
    * connected components, keep each component's minimum id — chained
    * near-dups (A≈B≈C with no direct A-C candidate) collapse to one
    * survivor, which `dedupCorpus`'s one-pass approximation cannot
    * guarantee. `maxBucketSize` should be set on duplicate-heavy
    * corpora (see `minhashPairs`). */
  def dedupCorpusExact(docs: DataFrame, threshold: Double = 0.5,
                       maxBucketSize: Int = Int.MaxValue,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    survivorsExact(docs, minhashPairs(docs, threshold,
      maxBucketSize = maxBucketSize, idCol = idCol, textCol = textCol), idCol)

  // ===== SimHash ===========================================================

  /** 60-bit SimHash over whitespace tokens: per-token hash (low 60
    * bits of the packed long; bits 60-63 stay 0), each bit votes ±1 (one vote per
    * occurrence), final bit j is 1 iff the vote sum is ≥ 0. The hash is
    * pluggable and defaults to xxhash64 — at corpus scale a hash only
    * needs to agree within one run, and the md5-prefix alternative
    * (`TextAnalysis.md5Hash60`, used by the oracle-checked q19) costs
    * ~2× signature throughput (measured at 1M docs). Only the low 60
    * hash bits vote, so both hashes produce 60-effective-bit sketches.
    *
    * Computed as one hash-aggregate over exploded tokens with 60
    * shift+and bit sums (codegen'd, map-side combine — the nested
    * higher-order formulation runs interpreted), then the counters
    * pack into the long with a static shift/or expression tree. Docs
    * with zero tokens get the all-(effective-)ones hash (every vote sum
    * is 0 ≥ 0), restored via the left join. */
  def withSimhash(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  hash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"), explode(toks(textCol)).as("t"))
      .withColumn("hv", hash(col("t")))
    // per-bit ONES counts instead of ±1 vote sums: plain AND+shift+sum
    // (no conditional per bit), with vote_sum_j >= 0 ⟺ 2·ones_j >= n.
    // Only the low 60 hash bits vote (md5Hash60 has no more; for other
    // hashes the 4 dropped bits are immaterial to the sketch).
    val votes = (0 until 60).map { j =>
      sum(shiftright(col("hv"), j).bitwiseAND(lit(1L))).as(s"c$j")
    } :+ count(lit(1)).as("_n")
    val packed = (0 until 60).map { j =>
      when(col(s"c$j") * 2 >= col("_n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val sig = tok.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id").as(idCol), packed.as("simhash"))
    docs.join(sig, Seq(idCol), "left")
      .withColumn("simhash", coalesce(col("simhash"), lit(-1L)))
  }

  /** Near-dup pairs with Hamming distance ≤ `maxDist` (< 4) between
    * SimHashes. Pigeonhole banding: split the 64-bit hash into 4
    * 16-bit chunks — any pair within distance 3 must agree on ≥ 1 chunk,
    * so candidates come from equi-joins on (chunk index, chunk value)
    * and only candidates pay the bit_count verification. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   maxBucketSize: Int = Int.MaxValue,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   hash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxDist < 4, "chunk banding assumes maxDist <= 3")
    simhashCandidates(docs, maxBucketSize, idCol, textCol, hash)
      .filter(col("hamming") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash banded candidates WITH their Hamming distances, unfiltered
    * — the frame [[simhashPairs]] thresholds and
    * [[simhashHammingHistogram]] profiles. */
  private def simhashCandidates(docs: DataFrame,
                                maxBucketSize: Int,
                                idCol: String,
                                textCol: String,
                                hash: Column => Column): DataFrame = {
    // materialize once: the chunk self-join references the signature
    // aggregate on both sides and Spark re-executes it per side otherwise
    // (exchange reuse does not fire across the join aliases)
    val sigs = withSimhash(docs, textCol, idCol, hash)
      .select(col(idCol).as("id"), col("simhash"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // static 4-element struct array: codegen'd, unlike the equivalent
    // transform(sequence(...)) HOF which would run interpreted per row
    val chunks = array((0 until 4).map { k =>
      struct(lit(k).as("k"),
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(65535L)).as("chunk"))
    }: _*)
    val chunked0 = sigs.select(col("id"), col("simhash"), explode(chunks).as("c"))
      .select(col("id"), col("simhash"), col("c.k").as("k"), col("c.chunk").as("chunk"))
    // same degenerate-bucket guard as minhashPairs: m near-identical docs
    // in one chunk bucket yield m²/2 candidates — run exact dedup first
    // and cap the bucket fan-out on duplicate-heavy corpora
    val chunked = if (maxBucketSize == Int.MaxValue) chunked0 else {
      val sizes = chunked0.groupBy(col("k"), col("chunk"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") <= maxBucketSize)
      // bucket-cardinality side builds per partition (never the stream)
      chunked0.join(sizes.select(col("k"), col("chunk")).hint("shuffle_hash"),
        Seq("k", "chunk"))
    }
    // merge PINNED on the self-join: both aliases share one low size
    // estimate; a broadcast build of either side is the unbounded-pair
    // failure shape (see jaccardPairs)
    chunked.as("a").join(chunked.as("b").hint("merge"), Seq("k", "chunk"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Hamming-distance histogram over the banded SimHash candidate
    * pairs — the threshold dial for [[simhashPairs]]' `maxDist`, the
    * [[pairJaccardHistogram]] twin on the bit-sketch axis: a dup spike
    * at low distances separated from the background hump marks the
    * safe cut; a continuum says the sketch isn't separating this
    * corpus and the n-gram path should decide instead. Note the frame
    * is the CANDIDATE distribution (pairs agreeing on ≥1 of 4 16-bit
    * chunks — complete for distance ≤ 3 by pigeonhole, a biased sample
    * above), which is exactly the population the threshold filters.
    *
    * Emits (hamming, n_pairs), ordered.
    *
    * Scale: the candidate subtree is [[simhashPairs]]' own (banded
    * equi-joins, degenerate-bucket guard); the histogram adds one
    * ≤61-group aggregate. */
  def simhashHammingHistogram(docs: DataFrame,
                              maxBucketSize: Int = Int.MaxValue,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              hash: Column => Column = xxhash64(_))
      : DataFrame =
    simhashCandidates(docs, maxBucketSize, idCol, textCol, hash)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))

  /** Eval-hygiene audit: near-dup components whose members straddle the
    * train/val/test hash split — the leak a plain id-hash split cannot
    * see (a near-duplicate of a training doc landing in test inflates
    * eval scores even though no id crosses the boundary). Input is a
    * (doc_id, component) labelling (e.g. [[components]]); the split is
    * recomputed arithmetically from the id ([[TextAnalysis.withHashSplit]]'s
    * md5 bucket), so no join against the corpus is needed.
    *
    * Scale shape: one hash aggregate over the node-cardinality
    * component frame (already a contraction of the corpus), map-side
    * split derivation, no extra shuffle beyond the groupBy. Output is
    * leaky components only — at healthy dedup rates a vanishing
    * fraction. All-integer output. */
  def splitLeakage(comps: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame = {
    val pct = pmod(TextAnalysis.md5Hash60(col("doc_id").cast("string")),
      lit(100L))
    val split = when(pct < trainPct, "train")
      .when(pct < trainPct + valPct, "val")
      .otherwise("test")
    comps.withColumn("split", split)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("split") === "train").cast("long")).as("n_train"),
        sum((col("split") === "val").cast("long")).as("n_val"),
        sum((col("split") === "test").cast("long")).as("n_test"))
      .filter(
        (col("n_train") > 0).cast("int") + (col("n_val") > 0).cast("int")
          + (col("n_test") > 0).cast("int") >= 2)
  }

  /** Repair of the leakage [[splitLeakage]] detects: every near-dup
    * component is re-split AS A UNIT by hashing its canonical member
    * (the component's min doc id), so no component can straddle the
    * train/val/test boundary — the group-aware split every careful
    * eval pipeline needs (splitting on a raw id hash leaks paraphrases
    * into test). Docs outside any component keep their own id-hash
    * split, so the repair perturbs only near-dup docs and the split
    * ratios stay ≈ trainPct/valPct in expectation.
    *
    * Returns (id, split, repaired_split) per doc. Scale shape: one
    * aggregate over the node-cardinality component frame (component →
    * canonical id), one id-keyed sort-merge join back to the corpus —
    * the membership frame is corpus-bounded but dedup-rate-sized;
    * everything else is map-side hash arithmetic. */
  def repairSplitLeakage(docs: DataFrame, comps: DataFrame,
                         trainPct: Int = 80, valPct: Int = 10,
                         idCol: String = "doc_id"): DataFrame = {
    def splitOf(id: org.apache.spark.sql.Column) = {
      val pct = pmod(TextAnalysis.md5Hash60(id.cast("string")), lit(100L))
      when(pct < trainPct, "train")
        .when(pct < trainPct + valPct, "val")
        .otherwise("test")
    }
    val canon = comps
      .groupBy(col("component")).agg(min(col("doc_id")).as("_rep"))
    val membership = comps.join(canon, "component")
      .select(col("doc_id").as("_mid"), col("_rep"))
    docs.select(col(idCol)).join(membership,
        col(idCol) === col("_mid"), "left")
      .select(col(idCol), splitOf(col(idCol)).as("split"),
        splitOf(coalesce(col("_rep"), col(idCol))).as("repaired_split"))
  }

  /** Incremental component maintenance: fold a NEW batch's edges into
    * an existing (doc_id, component) labelling without re-running pair
    * generation over the old corpus — the corpus-growth path of the
    * dedup graph (a daily crawl adds 0.1% new docs; recomputing 100 TB
    * of co-shingle pairs for that is the thing this avoids).
    *
    * Correctness: each old doc contributes a (doc → its component
    * label) edge; old-component connectivity is preserved because the
    * label IS a member doc (the component min), so the union graph
    * (label edges ∪ new edges) has exactly the same connected
    * partition as the full old∪new edge set, and min-label propagation
    * yields the same labels a full recompute would. Proven by
    * equivalence in ExtSpec (bridged clusters, chained merges, and the
    * real fixture corpus). Caveat: the equivalence holds when pair
    * generation is deterministic w.r.t. corpus growth — a maxPostings
    * cap that newly fires on the grown corpus can drop pairs a
    * full recompute would also drop but the OLD run did not; re-run
    * from pairs when hot-shingle caps are in play across snapshots.
    *
    * Scale: the label-edge side is node-cardinality (old corpus docs
    * with edges); pointer-jumping runs on label edges + new-batch
    * edges only. */
  def incrementalComponents(prevLabels: DataFrame,
                            newEdges: DataFrame): DataFrame = {
    val labelEdges = prevLabels
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("doc_a"), col("component").as("doc_b"))
    components(labelEdges.unionByName(
      newEdges.select(col("doc_a"), col("doc_b"))))
  }

  /** Soft dedup: per-doc sampling weight 1/|cluster| from the near-dup
    * component labelling — each duplicate CLUSTER contributes one
    * document's worth of probability mass in expectation, without
    * dropping anything (the down-weighting alternative to
    * [[survivorsExact]]-style hard dedup: keeps paraphrase diversity,
    * removes duplication bias; feeds [[graft.ext.Curation.weightedSample]]
    * or a trainer's example-weight column directly). Docs outside any
    * component are singletons with weight 1.
    *
    * Output per doc: (id, component, csize, weight_micro) — weights
    * micro-quantized, Σ weight over a cluster = 1e6 ± rounding.
    *
    * Scale: one count aggregate over the node-cardinality component
    * frame, one id-keyed join back to the corpus — same shape as
    * [[repairSplitLeakage]], nothing corpus-quadratic. */
  /** Duplicate-cluster REPRESENTATIVE election — the "keep the best
    * copy, not the first" dedup policy (the naive min-id rule keeps
    * whichever crawl happened to assign the smallest id; production
    * dedup keeps the longest / highest-quality member so deduping
    * never trades away content). Every doc gets its component label
    * (docs outside any dup component are their own singleton and are
    * always kept); within a component the representative is the max
    * by (`prefCol` DESC, id ASC) — the id tie-break keeps the election
    * total-ordered and replayable for any preference column with ties.
    *
    * Emits the corpus with (component, is_kept) — `is_kept` as BIGINT
    * flag (the library's no-bool/no-decimal output convention).
    *
    * Scale: one keyed window per component (corpus-cardinality
    * partitions, never global), one id-equi join to attach labels —
    * the same shape as [[clusterWeights]]. */
  def electRepresentatives(docs: DataFrame, comps: DataFrame,
                           prefCol: Column,
                           idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labelled = docs
      .join(comps.select(col("doc_id").as("_cid"), col("component")),
        col(idCol) === col("_cid"), "left")
      .drop("_cid")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("component"))
      .orderBy(prefCol.desc, col(idCol))
    labelled
      .withColumn("is_kept",
        (row_number().over(w) === 1).cast("long"))
  }

  /** Erasure RE-ELECTION audit — what a delete-key feed (GDPR
    * erasure, takedown list) does to the duplicate-cluster
    * representatives: per source of the ORIGINAL representative, how
    * many cluster reps are themselves deleted, how many clusters
    * re-elect a surviving next-best copy, and how many empty out
    * entirely. This is the exact-batch counterpart of
    * [[graft.stream.ElectionStream.applyTombstones]] (which can only
    * fall back within its appended log — losers were never stored);
    * the delta between the two is the price of the log-structured
    * layout, and this audit is how you measure it before choosing.
    *
    * Emits one row per source: (source, n_components, n_rep_deleted,
    * n_reelected, n_emptied).
    *
    * Scale shape: two component-keyed election windows (bounded by
    * cluster multiplicity), one anti-join against the skinny delete
    * keys, component-keyed compare join, one aggregate. */
  def erasureReElectStats(docs: DataFrame, comps: DataFrame,
                          deleteKeys: DataFrame, prefCol: Column,
                          idCol: String = "doc_id",
                          srcCol: String = "source"): DataFrame = {
    val el1 = electRepresentatives(docs, comps, prefCol, idCol)
      .filter(col("is_kept") === 1L)
      .select(col("component"), col(idCol).as("rep_id"),
        col(srcCol).as("source"))
    val dels = deleteKeys.select(col(idCol)).distinct()
    val survivors = docs.join(dels, Seq(idCol), "left_anti")
    val el2 = electRepresentatives(survivors, comps, prefCol, idCol)
      .filter(col("is_kept") === 1L)
      .select(col("component").as("_c2"), col(idCol).as("new_rep_id"))
    el1
      .join(dels.select(col(idCol).as("rep_id"), lit(1L).as("_del")),
        Seq("rep_id"), "left")
      .join(el2, col("component") === col("_c2"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_components"),
        sum(coalesce(col("_del"), lit(0L))).as("n_rep_deleted"),
        sum((coalesce(col("_del"), lit(0L)) === 1L &&
          col("new_rep_id").isNotNull).cast("long")).as("n_reelected"),
        sum(col("new_rep_id").isNull.cast("long")).as("n_emptied"))
      .orderBy(col("source"))
  }

  /** KEY-based election merge-parity witness — the algebra that makes
    * the representative election INCREMENTAL (and therefore
    * streamable, [[graft.stream.ElectionStream]]): when clusters are
    * defined by a deterministic content KEY (same key ⇒ same cluster,
    * unlike transitive pair components), keep-best is a per-key argmax
    * under the total order (pref DESC, id ASC) — an associative,
    * commutative, idempotent merge. So electing each partition of the
    * corpus and then electing among the partition winners MUST equal
    * electing the full corpus at once. This query runs both sides on
    * a deterministic corpus split and emits the per-source agreement
    * counters; `n_disagree > 0` falsifies the monoid assumption the
    * streaming election depends on (e.g. a non-total order from a
    * non-deterministic pref column).
    *
    * Emits one row per source (of the full-election winner):
    * (source, n_keys, n_agree, n_disagree).
    *
    * Scale shape: three keyed windows, each partitioned by the
    * cluster key (bounded by cluster multiplicity); one equi-join of
    * two key-cardinality frames; one aggregate. Nothing touches
    * corpus² and no window is unpartitioned. */
  def electMergeParityStats(docs: DataFrame, keyCol: Column,
                            prefCol: Column, splitCol: Column,
                            idCol: String = "doc_id",
                            srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), keyCol.as("k"),
      prefCol.cast("long").as("pref"), splitCol.cast("long").as("split"),
      col(srcCol).as("source"))
    val order = Seq(col("pref").desc, col("id").asc)
    val full = base
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(order: _*)))
      .filter(col("_rn") === 1)
      .select(col("k"), col("id").as("full_id"), col("source"))
    val splitBest = base
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("k"), col("split")).orderBy(order: _*)))
      .filter(col("_rn") === 1)
    val merged = splitBest
      .withColumn("_rn2", row_number().over(
        Window.partitionBy(col("k")).orderBy(order: _*)))
      .filter(col("_rn2") === 1)
      .select(col("k"), col("id").as("merged_id"))
    full.join(merged, Seq("k"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_keys"),
        sum((col("full_id") === col("merged_id")).cast("long"))
          .as("n_agree"),
        sum((col("full_id") =!= col("merged_id")).cast("long"))
          .as("n_disagree"))
      .orderBy(col("source"))
  }

  /** Election-policy uplift audit — what keep-best election
    * ([[electRepresentatives]] on `prefCol`) buys over the naive
    * min-id rule, measured on a VALUE column the policy never saw:
    * per source of the keep-best representative, the mean `valueCol`
    * of keep-best reps vs min-id reps. A positive uplift is the
    * quantitative case for the election policy; ≈0 says min-id was
    * already fine (the clusters are exact copies) and the extra
    * window is buying nothing.
    *
    * Emits one row per source: (source, n_components, mean_best_micro,
    * mean_minid_micro, uplift_micro) — `valueCol` must already be an
    * integer micro score (the q237 convention).
    *
    * Scale: one component-keyed window computing BOTH elections (two
    * rank columns over the same partition ordering exchange), one
    * component aggregate, one source rollup. */
  def electionQualityUplift(docs: DataFrame, comps: DataFrame,
                            prefCol: Column, valueCol: Column,
                            idCol: String = "doc_id",
                            srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = docs
      .join(comps.select(col(idCol).as("_cid"), col("component")),
        col(idCol) === col("_cid"), "left")
      .drop("_cid")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("_v", valueCol)
    val wBest = Window.partitionBy(col("component"))
      .orderBy(prefCol.desc, col(idCol))
    val wMin = Window.partitionBy(col("component"))
      .orderBy(col(idCol))
    lab
      .withColumn("rk_best", row_number().over(wBest))
      .withColumn("rk_min", row_number().over(wMin))
      .groupBy(col("component"))
      .agg(max(when(col("rk_best") === 1, col("_v"))).as("v_best"),
        max(when(col("rk_min") === 1, col("_v"))).as("v_min"),
        max(when(col("rk_best") === 1, col(srcCol))).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_components"),
        expr("sum(v_best) div count(1)").as("mean_best_micro"),
        expr("sum(v_min) div count(1)").as("mean_minid_micro"))
      .select(col("source"), col("n_components"), col("mean_best_micro"),
        col("mean_minid_micro"),
        (col("mean_best_micro") - col("mean_minid_micro"))
          .as("uplift_micro"))
      .orderBy(col("source"))
  }

  /** Cross-source duplicate FLOW matrix — which sources duplicate into
    * which: every near-dup candidate pair (the same pair rule the
    * component labelling uses) is attributed to its unordered source
    * pair. The diagonal (src, src) is intra-source duplication (fix by
    * crawling less redundantly); off-diagonal mass is mirror/syndication
    * flow between sources (fix by source-level precedence rules). The
    * per-source loss table ([[clusterWeights]]-style aggregates) can't
    * show directionality; this matrix is the standard next drill-down.
    *
    * Emits (source_a ≤ source_b, n_pairs, n_docs — distinct documents
    * involved in the bucket's pairs) ordered by the pair.
    *
    * Scale: the pair frame is the already-bounded candidate output
    * (banded/capped generation, never corpus²); two id-keyed joins to
    * attach sources, then ONE aggregation over the pairs exploded to
    * two skinny (bucket, doc) rows — count(*)/2 recovers the pair
    * count exactly, so the expensive candidate subtree is consumed
    * once (a separate n_pairs aggregation would recompute it: the two
    * aggregation exchanges differ, nothing reuses). */
  def crossSourceDupMatrix(docs: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id",
                           srcCol: String = "source"): DataFrame = {
    val src = docs.select(col(idCol), col(srcCol))
    val attributed = pairs
      .join(src.select(col(idCol).as("doc_a"), col(srcCol).as("_sa")),
        Seq("doc_a"))
      .join(src.select(col(idCol).as("doc_b"), col(srcCol).as("_sb")),
        Seq("doc_b"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"),
        col("doc_a"), col("doc_b"))
    attributed
      .select(col("source_a"), col("source_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("_n2"),
        countDistinct(col("d")).as("n_docs"))
      .select(col("source_a"), col("source_b"),
        expr("_n2 div 2").as("n_pairs"), col("n_docs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Duplicate-cluster DENSITY audit — the chain-merge risk gate:
    * connected components merge by TRANSITIVITY, so a cluster can hold
    * documents with no direct pair evidence between them (A–B and B–C
    * merge A with C). Density = direct pairs / possible pairs: a
    * near-1 cluster is a clique (every member pairwise-duplicated —
    * safe to collapse); a near-0 cluster is a chain (collapsing it
    * deletes documents that were never actually compared — the classic
    * over-merge failure of LSH dedup at scale). Emits the `topN`
    * LARGEST clusters (component, n_docs, n_direct_pairs,
    * density_micro) by (n_docs DESC, component) — the big clusters are
    * where chain-merge damage concentrates.
    *
    * Scale: two keyed aggregations over the component labels and the
    * bounded candidate pairs (every pair's endpoints share a component
    * by construction, so ONE endpoint join attributes it), then a
    * TakeOrdered over the component-cardinality frame. */
  def clusterDensityStats(comps: DataFrame, pairs: DataFrame,
                          topN: Int = 20): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"))
    val direct = pairs
      .join(comps.select(col("doc_id").as("doc_a"), col("component")),
        Seq("doc_a"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_direct_pairs"))
    sizes.join(direct, Seq("component"))
      .select(col("component"), col("n_docs"), col("n_direct_pairs"),
        expr("""n_direct_pairs * 2000000
               |div greatest(n_docs * (n_docs - 1), 1)""".stripMargin)
          .as("density_micro"))
      .orderBy(col("n_docs").desc, col("component"))
      .limit(topN)
  }

  def clusterWeights(docs: DataFrame, comps: DataFrame,
                     idCol: String = "doc_id"): DataFrame = {
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
    val membership = comps.join(sizes, "component")
      .select(col("doc_id").as("_mid"), col("component"), col("csize"))
    docs.select(col(idCol))
      .join(membership, col(idCol) === col("_mid"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"),
        coalesce(col("csize"), lit(1L)).as("csize"),
        round(lit(1e6) / coalesce(col("csize"), lit(1L))).cast("long")
          .as("weight_micro"))
  }
}
