package graft.operators

import graft.Tables
import graft.Tables.Q
import graft.functions.Num
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-data-pipeline extension surface (SURVEY.md §2B, BASELINE north
  * star). The reference has no text processing at all; these are the
  * operators a 100 TB training-data pipeline actually runs.
  *
  * Scale notes:
  *  - Exact dedup is ONE hash-shuffle on a 64-hex digest — never a window
  *    over the full text, never a self-join.
  *  - All tokenization happens inside codegen'd higher-order functions
  *    (`split`/`transform`/`aggregate`): no UDF, no row-at-a-time JVM
  *    boundary crossing, no driver collect.
  *  - Word/ngram counts shuffle only (token, partial_count) pairs thanks to
  *    map-side partial aggregation — shuffle volume is O(vocabulary), not
  *    O(corpus).
  */
object TextOps {

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is")

  /** SQL IN-list generated from [[Stopwords]] so the DuckDB oracles cannot
    * drift from the Spark-side list (the same single-source-of-truth move
    * LangId makes with its profile-generated SQL). */
  private val StopwordsSql = Stopwords.map("'" + _ + "'").mkString(",")

  /** (input minus `ws`) + (term, tf): per-document term frequencies
    * computed IN-ROW from a SORTED word-array column `ws` — run boundaries
    * of the sorted array give each distinct term (the element at the
    * boundary) and its count (gap to the next boundary); the q_repetition
    * boundary technique, with the term string carried out of the array.
    * No corpus shuffle: tf is per-document state, so it never needs a
    * (doc, term) groupBy. Input rows must have non-empty `ws` (sequence(1,
    * 0) would infer a negative step). Columns other than `ws` pass through
    * to the exploded rows — pass per-doc scalars (doc length) that way
    * rather than carrying the array through the explode, which would copy
    * it into every term row. Each alias gets its own projection (the
    * HOF-CSE rule: multiply-referenced HOF results must be materialized or
    * Catalyst re-evaluates the producer at every use site). */
  private def termFreqInRow(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = docs.columns.filter(_ != "ws").map(col).toSeq
    val p2 = docs.select(keep ++ Seq(col("ws"),
      filter(sequence(lit(1), size(col("ws"))),
        i => (i === 1) ||
          (element_at(col("ws"), i) =!= element_at(col("ws"), i - 1)))
        .as("bounds")): _*)
    val p3 = p2.select(keep ++ Seq(col("ws"), col("bounds"),
      concat(slice(col("bounds"), lit(2), size(col("bounds")) - 1),
        array(size(col("ws")) + 1)).as("nexts")): _*)
    p3.select(keep :+
      explode(zip_with(col("bounds"), col("nexts"),
        (b, nx) => struct(element_at(col("ws"), b).as("term"),
          (nx - b).cast("long").as("tf")))).as("p"): _*)
      .select(keep ++ Seq(col("p.term").as("term"), col("p.tf").as("tf")): _*)
  }

  /** Hard bound on fuzzy-dedup block membership. Blocks larger than this
    * are EXCLUDED from pair generation (visible via
    * [[fuzzyKeyDroppedBlocks]] — never a silent truncation of a block's
    * pair list): within-block work is then ≤ FuzzyMaxBlock² Levenshtein
    * calls per block no matter how hot the prefix. At 100 TB a single
    * "https://" or "the " prefix otherwise turns one block quadratic in
    * corpus size. 256 is ~3× the largest organic block at sf0.1 (78). */
  val FuzzyMaxBlock = 256

  private def fuzzyKeyed(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 80).as("key"))
      .withColumn("blk", substring(col("key"), 1, 8))

  private def fuzzyBlockSizes(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    fuzzyKeyed(docs).groupBy("lang", "blk").agg(count(lit(1)).as("bn"))

  /** Edit-distance near-duplicate pairs over the 80-char key, blocked on
    * (lang, 8-char prefix), with oversized blocks excluded (see
    * [[FuzzyMaxBlock]]). The block-size pass ships only (lang, blk,
    * count) — map-side combined, O(distinct blocks) — and the semi-join
    * against small blocks prunes the hot block BEFORE the self-join, so
    * the quadratic stage never sees it. */
  def fuzzyKeyPairs(docs: org.apache.spark.sql.DataFrame,
      maxBlock: Int = FuzzyMaxBlock): org.apache.spark.sql.DataFrame = {
    val k = fuzzyKeyed(docs)
    val small = fuzzyBlockSizes(docs).filter(col("bn") <= maxBlock)
      .select("lang", "blk")
    val kept = k.join(small, Seq("lang", "blk"), "left_semi")
    val a = kept.select(col("lang").as("al"), col("blk").as("ab"),
      col("doc_id").as("doc_a"), col("key").as("ka"))
    val b = kept.select(col("lang").as("bl"), col("blk").as("bb"),
      col("doc_id").as("doc_b"), col("key").as("kb"))
    // length band in the JOIN condition: levenshtein(a, b) >= the length
    // difference, so pairs banded apart can never pass the <= 20 gate —
    // no DP at all for them. Survivors run the THRESHOLDED levenshtein
    // (Spark 3.5+), whose banded DP explores O(|a|·threshold) cells and
    // answers -1 past the bound instead of finishing an exact distance
    // nobody keeps; kept pairs' distances are exact either way, so the
    // oracle (plain levenshtein + <= 20 in DuckDB) sees identical rows.
    // SHUFFLE_HASH, not the planner's local-size broadcast pick (r21
    // optimization, guide §3.1 "pick the strategy deliberately"): this IS
    // the documented scale shape — the corpus shuffles its (lang, blk)
    // block key + 80-char key and blocks meet as equi-join buckets; at
    // 100 TB neither side broadcasts. Locally the broadcast plan also
    // placed the quadratic Levenshtein DP INSIDE the probe-side SCAN
    // stage, whose parallelism is the file-split count (the single-row-
    // group fixture runs it ~1-wide, measured as two ~950 ms scan-stage
    // jobs); post-exchange it runs at the session's shuffle width. On the
    // SHJ OOM caveat (r21 ADVICE #2): the hash map is built over the
    // whole build-side PARTITION (all keys landing in it), not per key —
    // FuzzyMaxBlock bounds per-key fan-out, not partition size. What
    // sizes the build side is shuffle WIDTH, which scales with input
    // (the session/cluster conf at 100 TB), keeping per-partition build
    // bytes bounded the same way any production SHJ is sized; a cluster
    // that can't guarantee that prefers removing the hint (sort-merge
    // spills gracefully) over shrinking the block cap.
    a.hint("shuffle_hash").join(b, col("al") === col("bl") && col("ab") === col("bb")
        && col("doc_a") < col("doc_b")
        && abs(length(col("ka")) - length(col("kb"))) <= 20)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ka"), col("kb"), 20).cast("long").as("dist"))
      .filter(col("dist").between(0, 20))
  }

  /** The blocks [[fuzzyKeyPairs]] refused to pair — the loud half of the
    * cap. A production run unions this into its run report; the planted
    * hot-prefix test asserts on it. */
  def fuzzyKeyDroppedBlocks(docs: org.apache.spark.sql.DataFrame,
      maxBlock: Int = FuzzyMaxBlock): org.apache.spark.sql.DataFrame =
    fuzzyBlockSizes(docs).filter(col("bn") > maxBlock)

  /** Per-document duplicated-span fraction (q_substring_dedup's core):
    * the share of each doc's `k`-word windows that occur verbatim in at
    * least one OTHER document. Input needs (doc_id, text).
    *
    * Plan shape (round-11 de-skew): per-digest facts come from an
    * AGGREGATION, not a window. Round 10's `Window.partitionBy(gh)` was
    * the one skewed-key scale-killer in the repo: every occurrence of one
    * hot span (a license header repeated 10⁸–10⁹ times at 100 TB) lands
    * in a single window partition, and AQE cannot split a window
    * partition the way it splits a join. `groupBy(gh).agg(min/max
    * (doc_id))` instead lets PARTIAL aggregation absorb the hot digest
    * map-side (the reference-scale analog: mapper.go:65-86's combiner
    * exists precisely so the reducer never sees raw fan-in), and the
    * "appears in ≥ 2 distinct docs" digests — a small filtered set —
    * join back to the occurrence stream on `gh`, where a residual hot
    * key is a JOIN skew that AQE's skew-split handles. Cost shape: the
    * agg path shuffles (gh, partial-min, partial-max) = 24 B rows, the
    * join path the raw (doc_id, gh) occurrences — two narrow digest-only
    * exchanges replacing round 10's one exchange + unsplittable sort.
    * Same rule as substringPrune's facts, so the two stay structurally
    * in sync. Shuffles carry digests only. */
  def substringDupStats(docs: org.apache.spark.sql.DataFrame,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val gated = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
    // Digest = xxhash64 over the SLICE OF PER-WORD HASHES, not over an
    // array_join'd string: each word is hashed once per doc, each window
    // then mixes k longs — the round-12 probe measured the per-window
    // string assembly (k≈20 words re-joined per position) at ~2× the
    // whole digest pipeline's cost at 41M windows. xxhash64, not sha256:
    // the digest is INTERNAL (the oracle recomputes the dup rule with
    // its own sha256 strings, so cross-engine digest equality is not
    // needed — the q_line_dedup precedent); a 64-bit collision merges
    // two distinct windows (p ≈ n²/2⁶⁵ — negligible, and the oracle
    // would catch one at fixture scale).
    val grams = gated
      .select(col("doc_id"), transform(col("w"), x => xxhash64(x)).as("hs"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("hs")) - (k - 1)),
          i => xxhash64(slice(col("hs"), i, lit(k))))).as("gh"))
      // persisted because BOTH the facts aggregate and the join-back
      // consume it: without this the scan+split+hash+explode pipeline
      // runs twice (round-12 probe: 44 s recomputed vs 20 s persisted at
      // 41M windows — partial agg splits the exchanges so Catalyst's
      // ReuseExchange cannot dedup them). Digest-only columns, ~2-5% of
      // corpus bytes serialized, MEMORY_AND_DISK by default — the same
      // materialize-reuse contract as the near-dup family; Verify/Bench
      // clearCache between queries.
      .persist()
    // digests seen in ≥2 distinct docs — partial agg flattens a hot
    // digest to one row per map task before the exchange
    val dupDigests = grams.groupBy("gh")
      .agg(min("doc_id").as("mind"), max("doc_id").as("maxd"))
      .filter(col("maxd") =!= col("mind"))
      .select("gh").withColumn("is_dup", lit(1L))
    // ONE pass over the persisted stream yields BOTH counters: n_grams
    // is count(*) per doc (every gated doc has ≥1 window, so no doc is
    // lost vs re-deriving it from the corpus — which would cost a third
    // scan + split of the text), dup_grams counts the digest matches.
    // LEFT join, not semi+re-join: same shuffle geometry, half the
    // passes.
    grams.join(dupDigests, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("is_dup"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double")
          / col("n_grams").cast("double") * 10000) / 10000)
  }

  /** The ACTION to [[substringDupStats]]' signal (q_substring_prune): the
    * Lee et al. 2107.06499 pipeline doesn't just measure verbatim spans,
    * it REMOVES them — keep the corpus-wide FIRST occurrence of each
    * duplicated `k`-word window (first = min (doc_id, position)), delete
    * the words of every other occurrence, and re-emit the cleaned corpus
    * with token accounting. Within-doc-only repeats are untouched
    * (q_repetition's job — same rule as the stats side: a window is
    * duplicated iff it appears in ≥ 2 DISTINCT docs).
    *
    * Scale shape (round-11 de-skew, same as [[substringDupStats]]): one
    * corpus explode into (doc_id, pos, digest); per-digest facts by
    * AGGREGATION — `min(struct(doc_id, i))` IS the corpus-wide first
    * occurrence (lexicographic struct min ≡ row 1 of a (doc_id, i)
    * ordering) and min/max doc give the ≥2-distinct-docs test — so a
    * boilerplate span repeated 10⁹ times collapses map-side in partial
    * agg instead of window-sorting inside one task (round 10's
    * `Window.partitionBy(gh)` + row_number, which AQE cannot skew-split
    * the way it splits the facts-to-occurrence join used here). The
    * deletions group back to O(deleted spans) per doc and join on
    * doc_id. Every shuffle carries digests and integers. The only text
    * movement is the final rebuild of surviving words — the cost any
    * operator EMITTING a cleaned corpus pays exactly once, same as
    * q_line_dedup. Docs under `k` words can't host a window and pass
    * through whole.
    *
    * Per-doc rebuild cost is O(n_words + deleted_spans × k) (round-11
    * fix closing the self-documented O(n_words × deleted_spans) caveat):
    * the deleted POSITION SET is materialized once per doc —
    * `flatten(transform(starts, s → sequence(s, s+k−1)))` — and
    * `array_except(all_positions, deleted)` keeps the complement via one
    * hash-set build + one ordered probe pass, so a pathological
    * mega-document (10⁵ words, half duplicated) costs ~10⁶ array cells
    * in-row instead of ~10⁹ `exists` compares. */
  def substringPrune(docs: org.apache.spark.sql.DataFrame,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val occ = base
      .filter(size(col("ws")) >= k)
      // same internal hash-of-word-hashes digest as substringDupStats
      // (see the cost/collision/oracle notes there) — the two stay keyed
      // identically, and the occurrence stream is persisted for the same
      // two-consumer reason
      .select(col("doc_id"), col("ws"),
        transform(col("ws"), x => xxhash64(x)).as("hs"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("hs")) - (k - 1)),
          i => struct(i.as("i"),
            xxhash64(slice(col("hs"), i, lit(k))).as("gh")))).as("o"))
      .select(col("doc_id"), col("o.i").as("i"), col("o.gh").as("gh"))
      .persist()
    // per-digest facts: corpus-wide first occurrence (struct min) + the
    // ≥2-distinct-docs test, absorbed map-side by partial aggregation
    val facts = occ.groupBy("gh")
      .agg(min(struct(col("doc_id"), col("i"))).as("first_occ"),
        min("doc_id").as("mind"), max("doc_id").as("maxd"))
      .filter(col("maxd") =!= col("mind"))
      .select(col("gh"), col("first_occ"))
    val del = occ.join(facts, Seq("gh"))
      // ≥2 distinct docs AND not the corpus-wide first occurrence: the
      // first doc keeps its copy (even its own later repeats of a
      // cross-doc span are pruned — "keep ONE occurrence corpus-wide")
      .filter(col("doc_id") =!= col("first_occ.doc_id") ||
        col("i") =!= col("first_occ.i"))
      .groupBy("doc_id").agg(collect_list(col("i")).as("starts"))
    base.join(del, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      // deleted positions as an explicit set, complement via one hashed
      // array_except pass — O(n + spans·k) per doc, order-preserving
      .select(col("doc_id"), col("ws"),
        array_except(sequence(lit(1), size(col("ws"))),
          flatten(transform(col("starts"),
            s => sequence(s, s + lit(k - 1))))).as("keep_pos"))
      .select(col("doc_id"),
        array_join(transform(col("keep_pos"),
          p => element_at(col("ws"), p)), " ").as("text_clean"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("keep_pos")).cast("long").as("n_kept"),
        (size(col("ws")) - size(col("keep_pos"))).cast("long").as("n_dropped"))
  }

  /** Distributed global prefix sum: appends `cumName` = running sum of
    * `valueCol` (must be LongType; checked up front) over the TOTAL order
    * `order` (include a unique tie-breaker). NULL values are skipped and
    * rows before the first non-NULL value get a NULL cum, exactly as
    * `SUM(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)`. Two passes:
    * range-partition by the order, window WITHIN each partition, then add
    * per-partition prefix offsets (a partition-count-bounded driver
    * collect) — never the single-partition
    * window Spark falls into for ORDER BY without PARTITION BY, so it
    * holds at any corpus size. localCheckpoint (eager), not persist: the
    * pid→offset map is only valid for THIS materialization — a persisted
    * frame evicted and recomputed would resample the range boundaries and
    * shift spark_partition_id, silently corrupting the cumsum;
    * checkpointing truncates the lineage so losing a block fails loudly
    * instead. Cum values are invariant to where the range boundaries
    * fall, so nondeterministic boundary sampling is fine. Shared by
    * q_token_budget (quality order) and q_pack_sequences (corpus order).
    */
  def distributedCumsum(df: org.apache.spark.sql.DataFrame, valueCol: String,
      cumName: String, order: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    distributedCumsumSplit(df, valueCol, cumName, order: _*)._2

  /** As [[distributedCumsum]], also exposing the bare checkpointed
    * range-partitioned frame (`__pid` dropped, no cum column). Consumers
    * that never reference the cum — q_winsorize's group sizes and its
    * final clip pass — read THAT frame and skip the sorted cum pass
    * entirely; under the old one-frame shape Catalyst pruned the window
    * for them, but the r22 mapPartitions cum (below) is opaque to
    * ColumnPruning, so the split keeps the pruning explicit. */
  def distributedCumsumSplit(df: org.apache.spark.sql.DataFrame, valueCol: String,
      cumName: String, order: org.apache.spark.sql.Column*)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val vType = df.schema(valueCol).dataType
    require(vType == org.apache.spark.sql.types.LongType,
      s"distributedCumsum: column `$valueCol` must be LongType, got " +
        s"${vType.simpleString}; cast it to long first")
    // Persist the input across the range exchange's TWO executions of it
    // (boundary sampling + the real pass) — for callers whose frame is an
    // expensive projection (full-document tokenization in token_budget /
    // pack_sequences, a parquet scan in winsorize) the sampling job
    // otherwise re-pays it wholesale. Unpersisted immediately after the
    // EAGER checkpoint materializes: the cache's whole job is those two
    // passes, so its lifetime is this call (q_winsorize sf0.1 floor:
    // 2.69 → 2.32 s from this alone).
    val in = df.persist()
    // LAZY checkpoint (r21 optimization): the per-partition-totals collect
    // right below is the action that materializes the blocks, so the
    // range pass and the totals pass share ONE job instead of an eager
    // materialize job plus a collect job. The eager-materialization
    // guarantee the scaladoc relies on is unchanged — the blocks exist
    // (and the pid→offset map is pinned to them) before offsets are
    // computed, and every later consumer reads the same blocks.
    val ranged = in
      .repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    // Per partition: its total (0 when every value in it is NULL) and
    // whether it holds any non-NULL value.
    val partTotals =
      try ranged.groupBy("__pid")
        .agg(coalesce(sum(valueCol), lit(0L)).as("t"), count(valueCol).as("c"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2) > 0))
        .toSeq.sortBy(_._1)
      finally in.unpersist()
    // pid -> (sum of all earlier partitions, whether any earlier partition
    // held a non-NULL value); the flag gives the window's leading NULLs.
    val offsets = partTotals.map(_._1).zip(
      partTotals.scanLeft((0L, false)) { case ((acc, seen), (_, t, c)) =>
        (acc + t, seen || c) }.dropRight(1)).toMap
    // The cum pass (r22, guide §2.4 "remove shuffles outright"): the old
    // form spelled it `sum over Window.partitionBy("__pid")`, and because
    // a checkpointed LogicalRDD reports UnknownPartitioning, Catalyst
    // planned a FULL HASH RE-EXCHANGE of the corpus by __pid (plus the
    // window sort) just to group rows that were ALREADY physically
    // grouped — each checkpoint block is exactly one __pid by
    // construction. sortWithinPartitions + one streaming per-partition
    // fold computes the identical running sum with ZERO exchanges; the
    // per-partition offset folds into the fold's seed (broadcast,
    // partition-count-bounded). Tie order within equal `order` keys is
    // whatever the sort emits — same class as the window's ROWS frame;
    // callers either carry a unique tie-breaker (token_budget,
    // pack_sequences) or consume rank-boundary VALUES that are
    // tie-invariant (winsorize).
    val spark = ranged.sparkSession
    val bcOff = spark.sparkContext.broadcast(offsets)
    val sorted = ranged.sortWithinPartitions(order: _*)
    val pidIdx = sorted.schema.fieldIndex("__pid")
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val keepIdx = sorted.schema.indices.filter(_ != pidIdx)
    val outSchema = org.apache.spark.sql.types.StructType(
      keepIdx.map(sorted.schema(_)) :+
        org.apache.spark.sql.types.StructField(cumName,
          org.apache.spark.sql.types.LongType, nullable = true))
    val cum = sorted.mapPartitions { it =>
      var acc = 0L
      var seen = false
      var init = false
      it.map { r =>
        if (!init) {
          val (off, seenBefore) = bcOff.value.getOrElse(r.getInt(pidIdx), (0L, false))
          acc = off; seen = seenBefore; init = true
        }
        if (!r.isNullAt(vIdx)) { acc += r.getLong(vIdx); seen = true }
        val vals = new Array[Any](keepIdx.length + 1)
        var i = 0
        while (i < keepIdx.length) { vals(i) = r.get(keepIdx(i)); i += 1 }
        vals(keepIdx.length) = if (seen) acc else null
        org.apache.spark.sql.Row.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    (ranged.drop("__pid"), cum)
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup by normalized-text digest: group on sha2(lower(trim)),
    // keep the smallest doc_id, count copies. The digest (64 bytes) is the
    // only thing shuffled — at 100 TB the text never leaves the scan.
    "q_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }),

    // Unicode-robust exact dedup: the key is the native text_canon
    // canonical form (case fold + whitespace collapse, then NFC LAST —
    // one fused scan-projection pass, order load-bearing: see
    // functions/TextCanon), so two crawls of the
    // same page that differ only in Unicode normal form (é composed vs
    // e+combining-acute), case, or whitespace layout land in ONE group —
    // the duplicate class q_dedup_exact's byte-level key structurally
    // misses. Same scale shape as dedup_exact: only the sha256 of the
    // canon shuffles, never the text. The ASCII fixtures exercise the
    // case/whitespace legs; the NFC leg is pinned by TextCanonSpec's
    // planted NFD/NFC twins (both engines, same canon rule).
    "q_unicode_canon" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(sha2(expr("text_canon(text)"), 256).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }),

    // Classic wordcount: tokenize, explode, count. Partial agg collapses
    // each partition to its local vocabulary before the shuffle.
    "q_text_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    // Bigram counts: adjacent-word pairs via zip_with of the two shifted
    // slices — pure codegen'd array ops, one explode, one agg.
    "q_text_ngrams" -> ((s, d) => {
      val w = split(col("text"), " ")
      Tables.documents(s, d)
        .select(explode(zip_with(
          slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
    }),

    // Token counting, BPE-ish: word runs plus single punctuation marks.
    "q_text_tokens" -> ((s, d) => {
      val toks = regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(split(col("text"), " ")).cast("long").as("n_words")),
        col("doc_id"))
    }),

    // Shard manifest — the write-side step that turns a curated corpus
    // into N training shards: deterministic shard assignment by the
    // sampling family's mulHash (content-independent, so a re-run of the
    // pipeline lands every doc in the same shard) plus the per-shard
    // accounting (docs, whitespace tokens, chars, id range) a trainer's
    // data loader reads to plan epochs. One narrow groupBy over 64 keys —
    // partial aggregation absorbs everything map-side; at 100 TB the
    // actual shard write is `df.write.partitionBy(shard)` against this
    // same assignment expression, and the manifest certifies balance
    // BEFORE the write (a skewed manifest means a bad hash, caught here,
    // not at epoch time).
    "q_shard_manifest" -> ((s, d) => {
      val nShards = 64L
      Tables.documents(s, d)
        .select(graft.functions.Num.mulHash(col("doc_id"), nShards).as("shard"),
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("sum_words"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),

    // Quality scoring: word count, mean word length, stopword ratio — the
    // cheap per-document features a corpus filter runs before training.
    "q_text_quality" -> ((s, d) => {
      val w = split(col("text"), " ")
      val nWords = size(w).cast("double")
      val sumLen = aggregate(transform(w, x => length(x).cast("long")),
        lit(0L), (acc, x) => acc + x).cast("double")
      val nStop = size(filter(w, x => x.isInCollection(Stopwords))).cast("double")
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"),
          size(w).cast("long").as("n_words"),
          (round(sumLen / nWords * 10000) / 10000).as("avg_word_len"),
          (round(nStop / nWords * 10000) / 10000).as("stopword_ratio")),
        col("doc_id"))
    }),

    // DEFLATE compression ratio — the redundancy signal n-gram statistics
    // miss (templated boilerplate, repeated paragraphs, encoded blobs):
    // low-entropy text compresses far below ~0.4, clean prose sits near
    // 0.5-0.7. This is the one genuinely imperative text op (a codec), so
    // it takes the mapPartitions batch shape like MediaOps: ONE Deflater
    // per partition (native zlib state, reset() between docs — allocating
    // per row would dominate), zero shuffle, a pure scan-side feature at
    // any corpus size. No SQL oracle — DuckDB exposes no deflate — so the
    // driver records rows-only; determinism and the repetitive≪prose
    // ordering are pinned in scalatest (TextQualitySpec).
    "q_compress_ratio" -> ((s, d) => {
      import s.implicits._
      val features = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val z = new java.util.zip.Deflater(6)
          val buf = new Array[Byte](1 << 16)
          val mapped = it.map { case (id, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            z.reset(); z.setInput(raw); z.finish()
            var zBytes = 0L
            while (!z.finished()) zBytes += z.deflate(buf)
            (id, raw.length.toLong, zBytes)
          }
          // free native zlib state when the partition drains; on an
          // early-terminated scan (limit) the Cleaner reclaims it
          mapped ++ { z.end(); Iterator.empty }
        }
        .toDF("doc_id", "raw_bytes", "z_bytes")
      Tables.orderedOnce(features
        .withColumn("ratio", round(col("z_bytes") /
          greatest(col("raw_bytes"), lit(1L)) * 10000) / 10000),
        col("doc_id"))
    }),

    // Stratified downsampling — the corpus-mixing primitive (keep all rare
    // languages, hard-downsample the dominant one). The keep decision is a
    // deterministic multiplicative hash of doc_id, so it is reproducible
    // across runs/engines and is a pure SCAN-SIDE filter: no shuffle, no
    // state, pushes into the scan at any corpus size. (A production
    // pipeline would use xxhash64 for better mixing; the linear hash here
    // is equidistributed over sequential ids and DuckDB-expressible.)
    "q_sample_stratified" -> ((s, d) => {
      val keepPermille = when(col("lang") === "en", 300)
        .when(col("lang").isin("de", "es", "fr"), 800)
        .otherwise(1000)
      Tables.orderedOnce(Tables.documents(s, d)
        .filter(Num.mulHash(col("doc_id"), 1000) < keepPermille)
        .select(col("doc_id"), col("lang"), col("source")),
        col("doc_id"))
    }),

    // Epoch-weighted upsampling — the other half of corpus mixing:
    // q_sample_stratified hard-downsamples the dominant language; training
    // mixtures also REPLICATE scarce domains (epoch weights > 1, the
    // LLaMA/Pile recipe). Each doc is replicated epochs(lang) times via an
    // in-row explode(sequence(...)) — map-only, no shuffle, no
    // driver-side state, so it scales as a pure scan at any corpus size —
    // and every copy gets a deterministic interleave key from the same
    // multiplicative hash family as the sampler, so the emitted training
    // order MIXES the epochs instead of clustering the replicas and is
    // reproducible across runs and engines. The final global sort is the
    // only exchange in the plan.
    "q_mixture_upsample" -> ((s, d) => {
      val epochs = when(col("lang") === "en", 1L)
        .when(col("lang").isin("de", "es", "fr"), 2L)
        .otherwise(4L)
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("epoch", explode(sequence(lit(1L), epochs)))
        // Composite key (doc_id, epoch) folded overflow-safely: doc_id is
        // reduced mod 2147483 so key = id*1000+epoch stays < 2^31 and the
        // 2654435761 product < 2^63 on both engines (the Num.mulHash
        // bound, restated for the composite input). Identity for fixture-
        // scale ids, so results are unchanged below 2.1M docs.
        .withColumn("mix_key",
          pmod((pmod(col("doc_id"), lit(2147483L)) * lit(1000L)
              + col("epoch")) * lit(2654435761L),
            lit(1000000L))),
        col("mix_key"), col("doc_id"), col("epoch"))
    }),

    // Token-budget selection: rank by quality, keep the prefix that fits a
    // token budget — "fill the training mix greedily". The global cumsum
    // is a distributed two-pass prefix sum: range-partition by the total
    // order, window WITHIN each partition, then add per-partition prefix
    // offsets (a k-row driver collect) — never the single-partition window
    // Spark falls into for ORDER BY without PARTITION BY.
    "q_token_budget" -> ((s, d) => {
      val budget = 15000L
      val toks = regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))
      val w = split(col("text"), " ")
      val nStop = size(filter(w, x => x.isInCollection(Stopwords))).cast("double")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
          (round(nStop / size(w).cast("double") * 10000) / 10000).as("quality"))
      distributedCumsum(scored, "n_tokens", "cum_tokens",
          col("quality").desc, col("doc_id"))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // Sequence packing — the assembly step between a cleaned corpus and
    // the trainer: documents concatenated in corpus (doc_id) order are
    // split into fixed 2048-token training sequences ("pack contiguously,
    // split at boundaries"); each doc reports the pack its first token
    // lands in, its offset there, and how many packs it spans (straddling
    // docs continue into the next pack). The only global coordination
    // packing needs is the token cumsum, and that is the SAME distributed
    // two-pass prefix sum q_token_budget uses (distributedCumsum): one
    // range exchange, per-partition windows, a partition-count-bounded
    // offset collect — map-only after that, at any corpus size.
    "q_pack_sequences" -> ((s, d) => {
      val S = 2048L
      val toks = regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))
      val counted = Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      distributedCumsum(counted, "n_tokens", "cum", col("doc_id"))
        .withColumn("start", col("cum") - col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"start div $S").as("pack_id"),
          pmod(col("start"), lit(S)).as("pack_offset"),
          when(col("n_tokens") === 0, lit(0L))
            .otherwise(expr(s"(cum - 1) div $S") - expr(s"start div $S") + 1)
            .as("n_packs_spanned"))
        .orderBy("doc_id")
    }),

    // PII redaction — the scrub pass every training-data pipeline runs
    // before the corpus leaves quarantine. The fixture text is clean
    // lowercase words (no PII by construction), so the query first appends
    // a DETERMINISTIC doc_id-derived contact string (email + E.164-ish
    // phone) to each document and then redacts it; the regexes are the
    // real artifact under test and the DuckDB oracle runs the identical
    // augment+redact. Patterns stay inside the Java-regex ∩ RE2 common
    // subset (char classes, bounded repeats — no backrefs, no lookaround)
    // so both engines compile them identically. Pure codegen'd projection:
    // no UDF, no shuffle — at 100 TB this is a scan-speed pass.
    "q_pii_redact" -> ((s, d) => {
      val fullText = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail"), pmod(col("doc_id"), lit(7)), lit(".example.com tel +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"), fullText.as("full_text"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("full_text"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").as("clean_text"),
          regexp_count(col("full_text"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("full_text"), lit(phoneRe)).cast("long").as("n_phones")),
        col("doc_id"))
    }),

    // C4-style line-level dedup: split each document into 5-token
    // "pseudo-lines" (the fixture has no newlines; a real corpus would
    // split on '\n'), count each line's frequency across the WHOLE corpus,
    // drop every line that appears more than once, and reassemble the
    // survivors in original order. Scale shape: line frequency is grouped
    // on xxhash64(line) — that corpus-wide shuffle carries 8-byte keys,
    // never text — and the duplicate set (freq ≥ 2) joins back on the same
    // 8-byte key (broadcast when small, plain shuffled hash join when not —
    // the plan is declarative, AQE picks). The only text that moves is the
    // per-doc reassembly of SURVIVING lines, which any operator emitting
    // cleaned documents must pay exactly once.
    // A 64-bit collision would merge two distinct lines (p ≈ n²/2⁶⁵ —
    // negligible against corpus sizes; the all-pairs-exact oracle would
    // catch one at fixture scale).
    "q_line_dedup" -> ((s, d) => {
      val L = 5
      val nChunks = ceil(size(col("w")) / lit(L.toDouble)).cast("int")
      val chunks = transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(col("w"), i * L + 1, lit(L)), " "))
      val lines = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), posexplode(chunks))
        .select(col("doc_id"), col("pos"), col("col").as("line"),
          xxhash64(col("col")).as("h"))
      val dup = lines.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"), lit(true).as("is_dup"))
      lines.join(dup, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(when(col("is_dup").isNull,
              struct(col("pos"), col("line"))))),
            x => x.getField("line")), " ").as("text_clean"),
          count(when(col("is_dup").isNull, 1)).as("n_kept"),
          count(when(col("is_dup").isNotNull, 1)).as("n_dropped"))
        .orderBy("doc_id")
    }),

    // Per-document top-3 terms by TF-IDF — the term-weighting primitive
    // under quality classifiers and topic filters. One explode + one
    // (doc, term) aggregate; document frequency is a VOCABULARY-sized
    // frame (broadcast), corpus size is a 1-row broadcast probe — the only
    // corpus-scale shuffle is the tf groupBy. Ties broken by term asc so
    // the top-3 cut is total-order deterministic.
    "q_tfidf_top_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // tf is PER-DOCUMENT, so it is computed IN-ROW (sorted word array →
      // run boundaries → (term, tf) struct pairs, the q_repetition
      // technique) instead of a corpus-wide (doc, term) groupBy. df groups
      // by term ALONE, which map-side partial aggregation collapses to
      // vocabulary size per partition before the shuffle. Net plan: two
      // narrow corpus passes + a vocabulary-sized shuffle + ONE corpus
      // shuffle (the window's doc_id partitioning) — the first cut's
      // (doc, term) groupBy + 58M-row persist measured 52.2 s at 1M docs
      // vs 29.8 s for this shape. No persist: re-running a narrow pass
      // costs less than caching a corpus-sized frame.
      val df = docs
        .select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tf = termFreqInRow(docs.select(col("doc_id"),
        array_sort(split(col("text"), " ")).as("ws")))
      val win = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")) * 1e6) / 1e6)
        .withColumn("rnk", row_number().over(win))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    // Benchmark decontamination — the overlap check run before any corpus
    // ships to training: docs with doc_id % 50 == 0 stand in for the held-out
    // eval set; every other doc is scanned for 5-gram overlap with it.
    // Scale shape: the benchmark side is tiny BY DEFINITION (eval sets are
    // MBs against a 100 TB corpus), so its distinct 5-gram hash set is
    // broadcast — the corpus side never shuffles; each task streams its
    // grams past the in-memory hash set and emits per-doc hit counts. Grams
    // are compared as xxhash64 longs (the oracle compares the strings — the
    // semantic spec; identical absent a 64-bit collision).
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      // when-guard: sequence(1, size-4) would run DESCENDING for <5-word
      // docs (negative-step inference) — guard to an empty gram list.
      // xxhash64 over the 5 word columns directly — no per-gram string
      // build; words contain no separator so the tuple hash is as
      // collision-safe as hashing the joined string
      val gramsCol = when(size(col("w")) >= 5,
        transform(sequence(lit(1), size(col("w")) - 4),
          i => xxhash64(element_at(col("w"), i), element_at(col("w"), i + 1),
            element_at(col("w"), i + 2), element_at(col("w"), i + 3),
            element_at(col("w"), i + 4))))
        .otherwise(array().cast("array<bigint>"))
      val g = docs.select(col("doc_id"), explode(gramsCol).as("h"))
      val bench = g.filter(col("doc_id") % 50 === 0).select("h").distinct()
      val hits = g.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), "h")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      docs.filter(col("doc_id") % 50 =!= 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split WITH a leakage guard — the
    // assignment step between decontamination and packing: every doc gets
    // a split by multiplicative hash of doc_id (90/5/5; reproducible
    // across runs and engines, the q_sample_stratified hash family), and
    // any TRAIN doc whose normalized-text digest also occurs in val∪test
    // is dropped as leaked (the eval sets must not appear verbatim in
    // training). Scale shape: the digest is computed map-side and only
    // (digest, counters) rows ever shuffle — text stays in the scan. The
    // held-out digest set is 10% of the corpus, far too big to broadcast
    // at 100 TB, so the guard is a shuffled LEFT join on the digest (both
    // sides key-partitioned; AQE may still elect broadcast at fixture
    // scale). The digest is a PAIR of independently-seeded xxhash64 longs
    // (16 bytes) rather than hex sha256 (64+ bytes): equality of the pair
    // is a 128-bit match (p_collision ≈ n²/2¹²⁹ — cryptographically
    // irrelevant for dedup), and the 10%-of-corpus shuffle moves ~4× less
    // key data. The DuckDB oracle keeps sha256 as the semantic spec; both
    // digests induce the same partition of normalized texts, so the
    // grouped counts agree. Train-internal duplicates are NOT this
    // operator's job — that's q_dedup_exact upstream.
    "q_train_test_split" -> ((s, d) => {
      val bucket = Num.mulHash(col("doc_id"), 100L)
      val norm = lower(trim(col("text")))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          xxhash64(norm).as("h1"), xxhash64(lit(1), norm).as("h2"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
      val held = docs.filter(col("split") =!= "train")
        .select(col("h1").as("hh1"), col("h2").as("hh2")).distinct()
        .withColumn("leak", lit(1L))
      // ONE pass over the corpus: the train restriction lives in the JOIN
      // CONDITION (non-train rows never match, so their leak coalesces to
      // 0) instead of splitting the frame into train ∪ rest, which would
      // scan documents twice more. Same spelling as the oracle SQL.
      docs.join(held,
          col("h1") === col("hh1") && col("h2") === col("hh2") &&
            col("split") === "train", "left")
        .select(col("split"), col("lang"), col("n_words"),
          coalesce(col("leak"), lit(0L)).as("leak"))
        .groupBy("split", "lang")
        .agg(sum(when(col("leak") === 0, 1L).otherwise(0L)).as("n_docs"),
          sum(col("leak")).as("n_leaked"),
          sum(when(col("leak") === 0, col("n_words")).otherwise(0L))
            .as("n_tokens"))
        .orderBy("split", "lang")
    }),

    // Gopher-style intra-document repetition metrics: duplicate-bigram
    // fraction and top-bigram mass — the cheap quality signals that gate a
    // crawl doc before any expensive scoring. The metrics are intrinsically
    // per-document, so they are computed ENTIRELY in-row over HASHED
    // bigrams: each bigram becomes an 8-byte xxhash64, the per-doc hash
    // array is sorted once (O(L log L)), and boundary indices of the sorted
    // array yield distinct count (#boundaries) and max multiplicity (max
    // gap between consecutive boundaries). No explode, no shuffle — a
    // scan-speed pass at 100 TB. Measured at 101k docs / 4 cores: this form
    // 5.7 s vs 7.9 s for an explode + (doc, gram) grouped aggregate and
    // 16.6 s for the same in-row pass over bigram STRINGS — interpreted
    // per-element string comparisons inside HOF lambdas cost ~3× the long
    // compares, so hash first, then fold. A 64-bit collision would merge
    // two distinct bigrams WITHIN one doc (p ≈ L²/2⁶⁵ per doc —
    // negligible; the string-keyed oracle would catch one at fixture
    // scale). The DuckDB oracle keeps the grouped string formulation as
    // the semantic spec; the integer counts are identical, so the rounded
    // ratios hash-match.
    "q_repetition" -> ((s, d) => {
      val w = split(col("text"), " ")
      val bg = array_sort(zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (a, b) => xxhash64(a, b)))
      // Each alias (`bg`, `bounds`) gets its own projection: HOF results
      // referenced more than once must be materialized or Catalyst
      // re-evaluates the producing expression at every use site.
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"), bg.as("bg"))
        .filter(size(col("bg")) > 0)
        .select(col("doc_id"), col("bg"),
          filter(sequence(lit(1), size(col("bg"))),
            i => (i === 1) ||
              (element_at(col("bg"), i) =!= element_at(col("bg"), i - 1)))
            .as("bounds"))
        .select(col("doc_id"),
          size(col("bg")).cast("long").as("n_bigrams"),
          size(col("bounds")).cast("long").as("n_distinct"),
          array_max(zip_with(
            concat(slice(col("bounds"), lit(2), size(col("bounds")) - 1),
              array(size(col("bg")) + 1)),
            col("bounds"),
            (a, b) => a - b)).cast("long").as("max_c"))
        .select(col("doc_id"), col("n_bigrams"),
          (round((col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams") * 10000) / 10000).as("dup_frac"),
          (round(col("max_c").cast("double")
            / col("n_bigrams") * 10000) / 10000).as("top_frac")),
        col("doc_id"))
    }),

    // BM25 top-3 terms per document (k1=1.2, b=0.75) — the retrieval-grade
    // upgrade of q_tfidf_top_terms: same single (doc, term) corpus shuffle,
    // plus a doc-length frame that REUSES tf's partitioning (dl groups on
    // doc_id over the persisted tf — no second corpus scan) and a 1-row
    // broadcast of (N, avgdl). All literals are written identically in the
    // DuckDB oracle (::DOUBLE) so both engines run the same double
    // arithmetic expression tree.
    "q_bm25_top_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // Same in-row tf + term-only df restructure as q_tfidf_top_terms
      // (see its comment). dl (doc length) is just the size of the filtered
      // word array, so it rides along in the same narrow pass — no
      // doc-keyed aggregate, no join back; (n_docs, avgdl) is a 1-row
      // broadcast over a narrow projection.
      val words = filter(split(col("text"), " "), x => length(x) > 0)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), array_sort(words).as("ws"))
        .filter(size(col("ws")) > 0)
      val df = docs
        .select(explode(array_distinct(col("ws"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val stats = docs.select(size(col("ws")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val tf = termFreqInRow(
        docs.withColumn("dl", size(col("ws")).cast("long")))
      val win = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("score",
          round(col("idf") * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))) * 1e6) / 1e6)
        .withColumn("rnk", row_number().over(win))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    // Bigram PMI — pointwise mutual information of adjacent word pairs,
    // the association statistic behind collocation mining and phrase
    // vocabularies (word2vec-style preprocessing). Corpus passes are the
    // q_text_ngrams bigram shape; the unigram table is VOCABULARY-sized so
    // both join legs broadcast — the only corpus-scale shuffle is the
    // bigram count groupBy (map-side combined). The log's argument is a
    // ratio of two EXACT BIGINT products (c_ab·N_u², n_bi·c_a·c_b — no
    // intermediate float division), so both engines hand libm the
    // identical double; the 1e-6 round then absorbs any last-ulp libm
    // difference (same contract as q_tfidf_top_terms).
    "q_bigram_pmi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = split(col("text"), " ")
      val words = docs
        .select(explode(w).as("word")).filter(length(col("word")) > 0)
      val uni = words.groupBy("word").agg(count(lit(1)).as("c"))
      val bg = docs.select(explode(zip_with(
          slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      val totals = uni.agg(sum("c").as("n_u")).crossJoin(
        bi.agg(sum("c_ab").as("n_bi")))
      bi.filter(col("c_ab") >= 20)
        .join(broadcast(uni.select(col("word").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("word").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("c_ab"),
          (round(log((col("c_ab") * col("n_u") * col("n_u")).cast("double")
            / (col("n_bi") * col("c_a") * col("c_b")).cast("double")) * 1e6) / 1e6)
            .as("pmi"))
        .orderBy("w1", "w2")
    }),

    // Fuzzy-KEY dedup: edit-distance near-duplicates over a short
    // normalized key (the first 80 chars — the title/URL-shaped field),
    // with candidate pairs generated by blocking on (lang, 8-char key
    // prefix). This is classic record-linkage blocking: the corpus only
    // shuffles its block key + 80-char key (never full text), blocks are
    // equi-join buckets, and the quadratic Levenshtein runs only WITHIN a
    // block. Complements the token-set family (minhash/jaccard measure
    // overlap; edit distance catches char-level noise — OCR typos, UTM
    // suffixes — that token sets miss). Prefix blocking is recall-lossy by
    // design (an edit inside the first 8 chars escapes the block) — the
    // documented trade; full-text fuzzy dedup is q_minhash_neardup's job.
    // Blocks are CAPPED at FuzzyMaxBlock members (see fuzzyKeyPairs): a
    // web-corpus hot prefix ("https://", "the ") would otherwise make one
    // block quadratic.
    "q_fuzzy_key_dedup" -> ((s, d) =>
      fuzzyKeyPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")),

    // Substring-level dedup signal (the Lee et al. 2022, arXiv:2107.06499
    // shape: training corpora carry long VERBATIM spans repeated across
    // documents, which exact-doc and near-doc dedup both miss): for each
    // document, the fraction of its 20-word windows that also occur
    // verbatim in ANOTHER document. Their suffix array is a single-node
    // structure; the Spark-shaped equivalent is a rolling-window digest
    // inventory — every window hashed IN-ROW (one HOF, no UDF) into an
    // 8-byte xxhash64 key, then ONE digest window pass (see
    // substringDupStats for the plan and the collision/oracle notes).
    // Shuffle volume is O(windows) longs, never text.
    // Within-doc repeats do NOT count (q_repetition's job): a window is
    // duplicated iff its digest appears in >= 2 DISTINCT docs.
    "q_substring_dedup" -> ((s, d) =>
      substringDupStats(Tables.documents(s, d)).orderBy("doc_id")),

    // The pruning twin (see substringPrune): emit the corpus with every
    // non-first occurrence of a cross-doc 20-word span removed, plus
    // token accounting that PipelineOpsSpec reconciles against
    // q_substring_dedup's dup_grams.
    "q_substring_prune" -> ((s, d) =>
      substringPrune(Tables.documents(s, d)).orderBy("doc_id")),

    // Document fingerprint: lexicographic min of sha2 over all 3-word
    // shingles — an order-invariant-ish locality fingerprint (the exact
    // min-hash with one permutation). Computed entirely inside array HOFs.
    // The composed corpus-preparation pipeline — quality gate → exact
    // dedup → per-domain cap → chunk accounting — as ONE Catalyst plan,
    // the way a production run would submit it (no materialization
    // between stages; the optimizer sees the whole chain). Stage shapes
    // are the proven singles: length gate is scan-side, dedup ships only
    // (digest, min id), the cap is WindowGroupLimit-pruned, and chunk
    // counts come from the integer formula (q_chunk_overlap) WITHOUT
    // exploding — the explode only exists when chunk text is the output.
    "q_corpus_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val gated = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          size(split(col("text"), " ")).cast("long").as("n_words"))
        .filter(col("n_words") >= 30)
      // Internal keep-set digest as a 128-bit PAIR of seeded xxhash64
      // runs: 16 B of longs instead of 64 B of hex on this corpus-wide
      // shuffle, with exact-dedup-grade collision odds (~n²/2¹²⁹ — a
      // single 64-bit key would merge distinct docs at ~27 pairs per
      // 10¹² docs, too hot for an exact-dedup stage). The second hash
      // puts the literal FIRST: Spark folds xxhash64 args left-to-right
      // with the running hash as seed, so xxhash64(norm, 1) would be a
      // deterministic function of h1 (h1-collision ⇒ h2-collision — a
      // 64-bit pair in disguise), while xxhash64(1, norm) re-hashes the
      // TEXT under a different seed, making the pair independent. The
      // oracle derives its keep set with its own sha256 — digests are
      // internal, only the keep SET is compared (the substring-dedup
      // precedent).
      val norm = lower(trim(col("text")))
      val keep = gated
        .groupBy(xxhash64(norm).as("h1"), xxhash64(lit(1L), norm).as("h2"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val capWin = Window.partitionBy("lang", "source")
        .orderBy(Num.mulHash(col("doc_id"), 1000000007L), col("doc_id"))
      gated.join(keep, Seq("doc_id"), "left_semi")
        .withColumn("rk", row_number().over(capWin)).filter(col("rk") <= 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("1 + (greatest(n_words - 20, 0) + 14) div 15"))
            .as("n_chunks"),
          sum("n_words").as("n_words_kept"))
        .orderBy("lang")
    }),

    // Unigram LM quality score: mean per-word log-probability of each
    // document under the corpus's own unigram distribution — the cheap
    // "LM perplexity" filter signal (CCNet-style) that flags gibberish
    // (rare-token soup scores far below fluent text). Float discipline:
    // each term's ln(c/N) is computed from EXACT integer counts (both
    // engines hand libm the identical double, the q_bigram_pmi move) and
    // immediately scaled to a BIGINT, so the per-document sum is integer —
    // aggregation-order-independent, safe to shuffle. Plan shape: tf is
    // in-row (termFreqInRow, no corpus-wide (doc,term) groupBy), the
    // vocabulary join is a vocabulary-sized build side, and the one corpus
    // shuffle is the per-doc integer sum.
    "q_unigram_logprob" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("c"))
      val n = vocab.agg(sum("c").as("n_corpus"))
      val tf = termFreqInRow(docs.select(col("doc_id"),
        array_sort(split(col("text"), " ")).as("ws")))
      tf.join(broadcast(vocab.withColumnRenamed("word", "term")), "term")
        .crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(
          sum(col("tf") * round(log(col("c").cast("double")
            / col("n_corpus").cast("double")) * 1e6).cast("long")).as("s"),
          sum("tf").as("n_words"))
        .select(col("doc_id"), col("n_words"),
          (round(col("s").cast("double") / col("n_words").cast("double")
            / 1e6 * 10000) / 10000).as("logprob_per_word"))
        .orderBy("doc_id")
    }),

    // Context-window chunking: split every document into 20-word chunks
    // with a 15-word stride (5-word overlap) — the packing step before
    // tokenize-and-train. Pure scan-side explode: chunk count derives
    // in-row from the word count (integer arithmetic so both engines agree
    // on the boundary doc lengths), the slice runs per emitted chunk, and
    // nothing shuffles — at 100 TB this is a map-only pass whose output
    // feeds the tokenizer. Short docs (< 20 words) produce exactly one
    // whole-doc chunk.
    "q_chunk_overlap" -> ((s, d) => {
      val cw = 20
      val stride = 15
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        // 1 + ceil(max(len-cw, 0) / stride) in pure integer math: the last
        // chunk starts at the largest i*stride < len so trailing words are
        // never dropped and a len==cw doc gets exactly one chunk.
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0L),
            expr(s"(greatest(size(ws) - $cw, 0) + ${stride - 1}) div $stride")
              .cast("long"))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          array_join(slice(col("ws"),
            (col("chunk_id") * stride + 1).cast("int"), lit(cw)), " ").as("chunk"),
          size(slice(col("ws"),
            (col("chunk_id") * stride + 1).cast("int"), lit(cw)))
            .cast("long").as("n_words")),
        col("doc_id"), col("chunk_id"))
    }),

    // Per-domain cap: keep at most 5 documents per (lang, source) — the
    // anti-overrepresentation pass a web-corpus mix runs so one hot domain
    // cannot dominate training. Selection is by the same deterministic
    // multiplicative hash as q_sample_stratified (reproducible, engine-
    // neutral), and the rk <= cap filter over row_number triggers the
    // WindowGroupLimit map-side prune: each input partition forwards at
    // most cap rows per key to the one exchange, so a 100 TB corpus with a
    // million-doc domain shuffles 5 rows for it, not a million.
    "q_domain_cap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cap = 5
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(Num.mulHash(col("doc_id"), 1000000007L), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= cap)
        .select(col("doc_id"), col("lang"), col("source"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("source"), col("rk"))
    }),

    "q_doc_fingerprint" -> ((s, d) => {
      // Materialize the split ONCE: referencing `split(text)` inside the
      // lambda would re-tokenize the document on every element_at — O(n²)
      // per doc (measured 7.6 s → 0.6 s at sf0.1 for this change).
      // The `when` guard matters: for <3-word docs, sequence(1, size-2)
      // would infer a NEGATIVE step and hit element_at(w, 0) — an error
      // under ANSI mode. Empty array → NULL fingerprint, matching DuckDB's
      // list_min([]) for the same input.
      val w = col("w")
      val shingleHashes = when(size(w) >= 3,
        transform(
          sequence(lit(1), size(w) - 2),
          i => sha2(concat_ws(" ",
            element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)), 256)))
        .otherwise(array().cast("array<string>"))
      Tables.orderedOnce(Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), array_min(shingleHashes).as("fingerprint")),
        col("doc_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_corpus_pipeline" ->
      """WITH gated AS (
           SELECT doc_id, lang, source, text,
             len(string_split(text, ' '))::BIGINT AS n_words
           FROM documents WHERE len(string_split(text, ' ')) >= 30),
         keep AS (SELECT min(doc_id) AS doc_id FROM gated
                  GROUP BY sha256(lower(trim(text)))),
         ded AS (SELECT gated.* FROM gated JOIN keep USING (doc_id)),
         capped AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY lang, source
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 1000000007, doc_id) AS rk
             FROM ded)
           WHERE rk <= 10)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(1 + (greatest(n_words - 20, 0) + 14) // 15) AS BIGINT)
             AS n_chunks,
           CAST(sum(n_words) AS BIGINT) AS n_words_kept
         FROM capped GROUP BY lang ORDER BY lang""",
    // Same scaled-integer term logs (exact-count doubles into ln, rounded
    // to BIGINT before any sum), so the only floats compared are the two
    // final defensive rounds.
    "q_unigram_logprob" ->
      """WITH x AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
         vocab AS (SELECT word, count(*) AS c FROM x
                   WHERE length(word) > 0 GROUP BY 1),
         tot AS (SELECT sum(c) AS n FROM vocab),
         tf AS (SELECT doc_id, word AS term, count(*) AS tf FROM x
                WHERE length(word) > 0 GROUP BY 1, 2),
         term AS (SELECT t.doc_id, t.tf,
                    t.tf * round(ln(v.c::DOUBLE / tot.n::DOUBLE)
                      * 1000000)::BIGINT AS tl
                  FROM tf t JOIN vocab v ON t.term = v.word, tot),
         doc AS (SELECT doc_id, sum(tl) AS s,
                   CAST(sum(tf) AS BIGINT) AS n_words
                 FROM term GROUP BY 1)
         SELECT doc_id, n_words,
           round(s::DOUBLE / n_words::DOUBLE / 1000000 * 10000) / 10000
             AS logprob_per_word
         FROM doc ORDER BY doc_id""",
    // Same integer chunk-count formula, same 1-based clipped slice
    // semantics (DuckDB list[a:b] inclusive == Spark slice(start, len)).
    "q_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         x AS (SELECT doc_id, ws,
                 unnest(generate_series(0,
                   (greatest(len(ws) - 20, 0) + 14) // 15)) AS chunk_id
               FROM w)
         SELECT doc_id, chunk_id,
           array_to_string(ws[chunk_id*15 + 1 : chunk_id*15 + 20], ' ')
             AS chunk,
           len(ws[chunk_id*15 + 1 : chunk_id*15 + 20]) AS n_words
         FROM x ORDER BY doc_id, chunk_id""",
    "q_domain_cap" ->
      """SELECT doc_id, lang, source, rk FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 1000000007, doc_id) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, source, rk""",
    "q_dedup_exact" ->
      """SELECT sha256(lower(trim(text))) AS h, min(doc_id) AS keep_id,
                count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    // text_canon's exact cross-engine spelling: lower, collapse the
    // 6-char ASCII whitespace class (explicit class, not \s — Java and
    // RE2 disagree on U+000B), space-only trim (sufficient once runs are
    // single spaces), then NFC LAST — lower-then-NFC, not the reverse,
    // because some sequences compose only in lowercase (functions/
    // TextCanon scaladoc; TextCanonProps pins idempotence).
    "q_unicode_canon" ->
      """SELECT sha256(nfc_normalize(trim(regexp_replace(lower(text),
                  '[ \t\n\f\r\v]+', ' ', 'g')))) AS h,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "q_text_wordcount" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE length(word) > 0
         GROUP BY word ORDER BY cnt DESC, word""",
    "q_text_ngrams" ->
      """SELECT bigram, count(*) AS cnt
         FROM (SELECT unnest([w[i] || ' ' || w[i+1]
                              for i in generate_series(1, len(w)-1)]) AS bigram
               FROM (SELECT string_split(text, ' ') AS w FROM documents))
         GROUP BY bigram ORDER BY cnt DESC, bigram""",
    "q_bigram_pmi" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
         words AS (SELECT unnest(w) AS word FROM ws),
         uni AS (SELECT word, count(*) AS c FROM words
                 WHERE length(word) > 0 GROUP BY word),
         bg AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                               for i in generate_series(1, len(w)-1)]) AS p
                FROM ws),
         bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c_ab
                FROM bg GROUP BY 1, 2),
         tot AS (SELECT (SELECT sum(c) FROM uni) AS n_u,
                        (SELECT sum(c_ab) FROM bi) AS n_bi)
         SELECT w1, w2, c_ab,
                round(ln(CAST(c_ab * n_u * n_u AS DOUBLE)
                         / CAST(n_bi * ua.c * ub.c AS DOUBLE)) * 1e6) / 1e6
                  AS pmi
         FROM bi
         JOIN uni ua ON bi.w1 = ua.word
         JOIN uni ub ON bi.w2 = ub.word
         CROSS JOIN tot
         WHERE c_ab >= 20
         ORDER BY w1, w2""",
    // Block cap mirrors FuzzyMaxBlock: oversized (lang, prefix) blocks
    // are excluded from pairing on BOTH sides.
    "q_fuzzy_key_dedup" ->
      s"""WITH k AS (SELECT doc_id, lang, substring(text, 1, 80) AS key,
                      substring(text, 1, 8) AS blk
                    FROM documents),
         small AS (SELECT lang, blk FROM k GROUP BY lang, blk
                   HAVING count(*) <= $FuzzyMaxBlock),
         kept AS (SELECT k.* FROM k JOIN small USING (lang, blk))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
         FROM kept a JOIN kept b
           ON a.lang = b.lang AND a.blk = b.blk
          AND a.doc_id < b.doc_id
         WHERE levenshtein(a.key, b.key) <= 20
         ORDER BY doc_a, doc_b""",
    // Same 20-word windows (DuckDB list[a:b] is 1-based inclusive ==
    // Spark slice(w, i, 20) — the q_chunk_overlap correspondence), same
    // cross-doc-distinct duplication rule.
    "q_substring_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 20),
         x AS (SELECT doc_id, ws,
                 unnest(generate_series(1, len(ws) - 19)) AS i FROM w),
         g AS (SELECT doc_id,
                 sha256(array_to_string(ws[i : i + 19], ' ')) AS gh FROM x),
         pd AS (SELECT doc_id, gh, count(*) AS cnt FROM g GROUP BY 1, 2),
         sh AS (SELECT gh FROM pd GROUP BY gh HAVING count(*) >= 2),
         dup AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dup_grams
                 FROM pd JOIN sh USING (gh) GROUP BY 1)
         SELECT w.doc_id AS doc_id, CAST(len(ws) - 19 AS BIGINT) AS n_grams,
                COALESCE(dup.dup_grams, 0) AS dup_grams,
                round(COALESCE(dup.dup_grams, 0)::DOUBLE
                  / (len(ws) - 19)::DOUBLE * 10000) / 10000 AS dup_frac
         FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id
         ORDER BY w.doc_id""",
    // Same first-occurrence rule (row_number over (doc_id, pos) per
    // digest), same ≥2-distinct-docs test via min/max doc over the
    // partition, same word-position rebuild (DuckDB generate_series +
    // list lambdas ≡ Spark sequence + filter/transform HOFs).
    "q_substring_prune" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         x AS (SELECT doc_id, ws,
                 unnest(generate_series(1, len(ws) - 19)) AS i
               FROM d WHERE len(ws) >= 20),
         g AS (SELECT doc_id, i,
                 sha256(array_to_string(ws[i : i + 19], ' ')) AS gh FROM x),
         r AS (SELECT doc_id, i,
                 row_number() OVER (PARTITION BY gh ORDER BY doc_id, i)
                   AS rn,
                 min(doc_id) OVER (PARTITION BY gh) AS mind,
                 max(doc_id) OVER (PARTITION BY gh) AS maxd
               FROM g),
         del AS (SELECT doc_id, list(i) AS starts FROM r
                 WHERE maxd <> mind AND rn > 1 GROUP BY doc_id),
         kept AS (SELECT d.doc_id, d.ws,
                    list_filter(generate_series(1, len(d.ws)),
                      p -> len(list_filter(COALESCE(del.starts, []),
                        s -> p >= s AND p < s + 20)) = 0) AS keep_pos
                  FROM d LEFT JOIN del ON d.doc_id = del.doc_id)
         SELECT doc_id,
           COALESCE(array_to_string(list_transform(keep_pos, p -> ws[p]),
             ' '), '') AS text_clean,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(keep_pos) AS BIGINT) AS n_kept,
           CAST(len(ws) - len(keep_pos) AS BIGINT) AS n_dropped
         FROM kept ORDER BY doc_id""",
    "q_text_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         FROM documents ORDER BY doc_id""",
    // Same mulHash spelling as the sampling family (Num.mulHash scaladoc).
    "q_shard_manifest" ->
      """SELECT ((doc_id % 2147483648) * 2654435761) % 64 AS shard,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
                CAST(sum(length(text)) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY 1 ORDER BY shard""",
    "q_text_quality" ->
      ("""SELECT doc_id,
                CAST(len(w) AS BIGINT) AS n_words,
                round(list_sum(list_transform(w, x -> length(x)))::DOUBLE
                      / len(w)::DOUBLE * 10000) / 10000 AS avg_word_len,
                round(len(list_filter(w, x -> x IN
                        (""" + StopwordsSql + """)))::DOUBLE
                      / len(w)::DOUBLE * 10000) / 10000 AS stopword_ratio
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         ORDER BY doc_id"""),
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE ((doc_id % 2147483648) * 2654435761) % 1000 <
           CASE lang WHEN 'en' THEN 300
                     WHEN 'de' THEN 800 WHEN 'es' THEN 800 WHEN 'fr' THEN 800
                     ELSE 1000 END
         ORDER BY doc_id""",
    // unnest over the scalar-list generate_series is DuckDB's spelling of
    // the in-row sequence explode (the table-function form can't take a
    // correlated bound); the interleave key is pure BIGINT arithmetic on
    // both engines.
    "q_mixture_upsample" ->
      """WITH r AS (
           SELECT doc_id, lang,
                  unnest(generate_series(1, CASE WHEN lang = 'en' THEN 1
                                  WHEN lang IN ('de','es','fr') THEN 2
                                  ELSE 4 END)) AS epoch
           FROM documents)
         SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch,
                (((doc_id % 2147483) * 1000 + epoch) * 2654435761) % 1000000 AS mix_key
         FROM r
         ORDER BY mix_key, doc_id, epoch""",
    // Same serial-window cumsum spec; pack arithmetic is pure BIGINT
    // integer division (// ≡ Spark's div) so both engines agree on every
    // boundary doc.
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                 CAST(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
               FROM t)
         SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (cum - 1) // 2048 - (cum - n_tokens) // 2048 + 1 END
             AS BIGINT) AS n_packs_spanned
         FROM c ORDER BY doc_id""",
    // The monotone cumsum means "cum <= budget" is a prefix of the quality
    // order; DuckDB's single window is the semantic spec the distributed
    // two-pass prefix sum must reproduce exactly.
    "q_token_budget" ->
      ("""WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens,
             round(len(list_filter(string_split(text, ' '), x -> x IN
                     (""" + StopwordsSql + """)))::DOUBLE
                   / len(string_split(text, ' '))::DOUBLE * 10000) / 10000 AS quality
           FROM documents
         ),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
           FROM t
         )
         SELECT doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= 15000 ORDER BY doc_id"""),
    "q_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id,
             text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
                  || '.example.com tel +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
           FROM documents
         )
         SELECT doc_id,
           regexp_replace(regexp_replace(full_text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
               '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean_text,
           CAST(len(regexp_extract_all(full_text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(full_text,
               '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
         FROM aug ORDER BY doc_id""",
    // The oracle groups on the line STRING (the semantic spec); the Spark
    // side groups on xxhash64(line) — identical absent a 64-bit collision.
    "q_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         lines AS (
           SELECT doc_id, i, array_to_string(ws[i*5+1:i*5+5], ' ') AS line
           FROM w, UNNEST(range(0, CAST(ceil(len(ws)/5.0) AS BIGINT))) AS t(i)
         ),
         dup AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 2)
         SELECT l.doc_id,
           coalesce(array_to_string(list(l.line ORDER BY l.i)
               FILTER (WHERE d.line IS NULL), ' '), '') AS text_clean,
           CAST(count(*) FILTER (WHERE d.line IS NULL) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE d.line IS NOT NULL) AS BIGINT) AS n_dropped
         FROM lines l LEFT JOIN dup d USING (line)
         GROUP BY l.doc_id ORDER BY doc_id""",
    "q_tfidf_top_terms" ->
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
           GROUP BY 1, 2
         ),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs::DOUBLE / df.df::DOUBLE) * 1000000) / 1000000 AS score
           FROM tf JOIN df USING (term) CROSS JOIN n
         ),
         ranked AS (
           SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS INT) AS rnk
           FROM scored
         )
         SELECT doc_id, term, score, rnk FROM ranked
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // The oracle matches grams as STRINGS (the semantic spec); the Spark
    // side matches xxhash64(gram) — identical absent a 64-bit collision.
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         g AS (
           SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
           FROM w, UNNEST(range(1, CAST(len(ws) - 3 AS BIGINT))) AS t(i)
         ),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
         hits AS (
           SELECT g.doc_id, count(*) AS n_hits
           FROM g JOIN bench USING (gram)
           WHERE g.doc_id % 50 <> 0 GROUP BY 1
         )
         SELECT d.doc_id,
                CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                coalesce(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 50 <> 0 ORDER BY doc_id""",
    // Same split hash spelling as q_sample_per_group's oracle; the leak
    // join condition is pre-restricted to train rows so non-train rows
    // can never match.
    "q_train_test_split" ->
      """WITH d AS (
           SELECT doc_id, lang, sha256(lower(trim(text))) AS h,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CASE WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 90
                         THEN 'train'
                       WHEN ((doc_id % 2147483648) * 2654435761) % 100 < 95
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
         held AS (SELECT DISTINCT h FROM d WHERE split <> 'train'),
         m AS (
           SELECT d.split, d.lang, d.n_words,
                  CASE WHEN d.split = 'train' AND held.h IS NOT NULL
                       THEN 1 ELSE 0 END AS leak
           FROM d LEFT JOIN held
             ON d.h = held.h AND d.split = 'train')
         SELECT split, lang,
                CAST(sum(CASE WHEN leak = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_docs,
                CAST(sum(leak) AS BIGINT) AS n_leaked,
                CAST(sum(CASE WHEN leak = 0 THEN n_words ELSE 0 END)
                  AS BIGINT) AS n_tokens
         FROM m GROUP BY split, lang ORDER BY split, lang""",
    "q_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         big AS (
           SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
           FROM w, UNNEST(range(1, CAST(len(ws) AS BIGINT))) AS t(i)
         ),
         c AS (SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                round((sum(c) - count(*))::DOUBLE / sum(c) * 10000) / 10000 AS dup_frac,
                round(max(c)::DOUBLE / sum(c) * 10000) / 10000 AS top_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_bm25_top_terms" ->
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
           WHERE length(term) > 0
           GROUP BY 1, 2
         ),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         scored AS (
           SELECT tf.doc_id, tf.term,
             round(ln((s.n_docs - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE) + 1.0::DOUBLE)
               * (tf.tf * 2.2::DOUBLE)
               / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl.dl / s.avgdl))
               * 1000000) / 1000000 AS score
           FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats s
         ),
         ranked AS (
           SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term) AS INT) AS rnk
           FROM scored
         )
         SELECT doc_id, term, score, rnk FROM ranked
         WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q_doc_fingerprint" ->
      """SELECT doc_id,
                list_min([sha256(w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                          for i in generate_series(1, len(w)-2)]) AS fingerprint
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         ORDER BY doc_id"""
  )
}
