package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a shuffle-on-key groupBy/join — no
  * driver-side state, no collect. At 100 TB the shingle explosion is the
  * expensive step; MinHash reduces the candidate-pair join from O(n^2) to
  * the LSH band buckets, and exact verification touches only candidates.
  */
object Dedup {

  /** Repartition a (possibly single-split) source so CPU-heavy downstream
    * work parallelizes — conditional: an already-well-split source gets
    * no extra Exchange (see [[graft.core.Spread.ensureParallel]]).
    */
  private[operators] def spread(df: DataFrame): DataFrame =
    graft.core.Spread.ensureParallel(df)

  /** Exact dedup: keep the smallest id per identical key (hash-groupBy).
    * Returns the kept rows plus `dup_count`.
    */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Normalized exact dedup via the canonical-form fingerprint. */
  def normalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental dedup: keep only the rows of a NEW batch whose canonical
    * fingerprint does not already appear in the EXISTING corpus, and dedup
    * the batch against itself (first id wins) in the same pass — the
    * operational form every continuously-ingesting pipeline runs per
    * increment instead of re-deduping the corpus.
    *
    * Scale shape: fingerprints are computed map-side; the anti join
    * shuffles only (fp, id) pairs against the corpus fingerprint set. At
    * 100 TB the corpus side is a bucketed fingerprint table, so the
    * increment join co-locates without reshuffling the corpus.
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
                     textCol: String, idCol: String): DataFrame = {
    val bfp = batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
    // Materialize the corpus fingerprint set once: when the batch is a
    // multi-branch union, LeftSemiLeftAntiPushDown replicates the anti
    // join into every branch — legitimate for the join, but without the
    // cache each replica recomputes the md5+regexp canonicalization and
    // the distinct over the whole corpus.
    val seen = graft.core.CacheScope.cached(corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct())
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    bfp.join(seen, Seq("fp"), "left_anti")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** One-pass Bloom filter over the corpus's canonical fingerprints.
    * Built with the public `stat.bloomFilter` (map-side inserts, tree
    * aggregation of the bit array — no shuffle of the fingerprints
    * themselves). Build once per ingest epoch and reuse across every
    * incoming batch; at 100 TB this is the object that makes per-batch
    * dedup cheap.
    */
  def fingerprintBloom(corpus: DataFrame, textCol: String,
                       expectedItems: Long, fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    corpus.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .stat.bloomFilter("fp", expectedItems, fpp)

  /** Bloom-prefiltered incremental dedup: same result as
    * [[incrementalNew]], different scale shape. Batch rows whose
    * fingerprint misses the corpus bloom are DEFINITELY new (no false
    * negatives) and skip the join entirely; only the ~fpp fraction of
    * false positives plus the true duplicates are confirmed with the
    * exact anti join. For a mostly-fresh batch — the steady state of any
    * crawler — this removes nearly all of the batch-side shuffle, and
    * the corpus-side fingerprint scan only feeds the small candidate
    * join. The filter is a parameter, not built inline, because its
    * whole point is amortization across batches.
    *
    * Correctness: the probe is a pure function of the fingerprint, so
    * duplicate rows within the batch land in the same branch and the
    * post-union first-id-wins window sees every group intact.
    */
  def incrementalNewBloom(batch: DataFrame, corpus: DataFrame,
                          bloom: org.apache.spark.util.sketch.BloomFilter,
                          textCol: String, idCol: String): DataFrame = {
    // bfp feeds both branches (bloom-hit and bloom-miss); cache it so the
    // batch's canonicalization runs once, and materialize the corpus
    // fingerprint set for the same reason as in [[incrementalNew]]
    val bfp = graft.core.CacheScope.cached(
      batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol))))
    val probe = org.apache.spark.sql.GraftBridge.bloomMightContain(col("fp"), bloom)
    val definiteNew = bfp.filter(!probe)
    val seen = graft.core.CacheScope.cached(corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct())
    val confirmedNew = bfp.filter(probe).join(seen, Seq("fp"), "left_anti")
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    definiteNew.unionByName(confirmedNew)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  // ---------------------------------------------------------------- shingles

  /** Distinct word-w shingle HASHES per document: (id, shingle: long).
    * The per-doc dedup happens inside the row (inside the native
    * [[graft.functions.ShingleHashes]] expression, before explode) so no
    * global distinct shuffle is needed — at scale this is the difference
    * between a map-only fanout and shuffling every shingle.
    */
  def shingles(df: DataFrame, textCol: String, idCol: String, w: Int = 3): DataFrame =
    shinglesN(df, textCol, idCol, w).select(col("doc"), col("shingle"))

  /** One row per doc with its sorted distinct shingle-hash array —
    * the pre-explode form every shingle consumer derives from (explode
    * for joins, in-row MinHash signatures, set sizes).
    */
  def shingleArrays(df: DataFrame, textCol: String, idCol: String, w: Int = 3): DataFrame =
    // single-file sources arrive as one split; spread the CPU-heavy
    // shingle hashing across the cluster before fanning out.
    // `shingle` is the 64-bit xxhash64 of the w-token shingle string (the
    // native fused ShingleHashes expression — bit-identical to
    // xxhash64(concat_ws(' ', window)), so MinHash/SimHash signatures are
    // unchanged), never the string itself: every consumer joins or
    // aggregates on shingle identity, and an 8-byte key keeps the
    // shingle shuffle width independent of n-gram width at 100 TB.
    spread(df).select(col(idCol).as("doc"),
        org.apache.spark.sql.GraftBridge.shingleHashes(col(textCol), w).as("_arr"))

  /** [[shingles]] plus the per-doc distinct-shingle count `n` ON EVERY
    * ROW, computed map-side from the same in-row array (`size` before the
    * explode). Carrying the 8-byte count through the shingle join lets
    * every similarity consumer (Jaccard, containment, exact verification)
    * read both docs' set sizes straight off the joined rows — eliminating
    * the per-doc sizes aggregation AND the two broadcast joins that
    * otherwise follow the pair count.
    */
  def shinglesN(df: DataFrame, textCol: String, idCol: String, w: Int = 3): DataFrame =
    explodeShingleArrays(shingleArrays(df, textCol, idCol, w))

  /** (doc, n, shingle) from a [[shingleArrays]] frame. */
  def explodeShingleArrays(arrs: DataFrame): DataFrame =
    arrs
      // _arr is referenced thrice (n + the when guard) but CollapseProject's
      // expensive-expression guard keeps it single-evaluated. The when()
      // wrapper is LOAD-BEARING: explode over a bare Attribute triggers
      // InferFiltersFromGenerate's `size(_arr) > 0` filter, which
      // PushDownPredicates then substitutes through the aliases (no
      // expensive-expression guard — NOTES.md finding 1) and lands below
      // the spread Exchange: the whole shingle chain re-evaluated per row
      // on the UN-spread input, single-threaded on a single-split source.
      // A CASE WHEN child is not inferable, costs O(1), and
      // explode(outer=false) drops the null/empty rows identically (fewer
      // than w tokens => empty array from the expression).
      .select(col("doc"), size(col("_arr")).as("n"),
        explode(when(size(col("_arr")) > 0, col("_arr"))).as("shingle"))

  /** Prefix rows for set-similarity joins (the AllPairs/PPJoin prefix
    * filter, Bayardo et al., WWW'07): with every doc's shingle set
    * sorted by one global order (the hash value — [[shingleArrays]]
    * sorts), any pair whose intersection must reach `minOverlapOf(n)`
    * elements HAS to collide inside each side's first
    * `n - minOverlapOf(n) + 1` elements. Emitting only those prefix
    * elements shrinks the candidate join's fan-out by ~the threshold
    * factor while keeping EXACTNESS — the verify step computes the true
    * score from the full arrays.
    *
    * The when() explode guard is load-bearing for the same
    * InferFiltersFromGenerate reason as [[explodeShingleArrays]].
    */
  private def prefixRows(arrs: DataFrame, prefLen: Column): DataFrame =
    arrs.select(col("doc"), size(col("_arr")).as("n"),
      explode(when(size(col("_arr")) > 0,
        slice(col("_arr"), lit(1), prefLen))).as("shingle"))

  /** Exact n-gram Jaccard similarity for all pairs with
    * `|A∩B| / (|A|+|B|-|A∩B|) >= threshold`.
    *
    * Shape: PPJoin-style prefix-filtered candidate join + in-row exact
    * verify. J >= t forces i >= ceil(t*|A|) (the denominator is at least
    * max(|A|,|B|)), so each side's prefix is its first
    * `n - ceil(t*n) + 1` sorted shingles and candidates sharing a prefix
    * shingle are a SUPERSET of all qualifying pairs — no misses, by
    * construction. The length filter (`t*max <= min`) rejects
    // impossible size ratios inside the join condition. Verification is
    * the shared arrays path ([[verifyPairsExactArrays]]): two id-equi
    * fetches + the native sorted-merge intersection, never a pair-count
    * aggregation — the naive formulation aggregated 126M intersection
    * rows into 113M pair counts at the sf10 tier to keep 25k, 21 s of
    * pure hash-agg; the prefix join keeps the fan-out candidate-sized.
    *
    * merge hint + WIDE join-key repartition on the candidate join: both
    * sides are corpus-proportional (no broadcastable dimension — the
    * explode-derived size estimate undersold these frames badly enough
    * to broadcast whole tiers, a driver OOM class at 100 TB), and a
    * session tuned to few shuffle partitions for dimension-sized
    * shuffles must not cap the one CPU-heavy stage (measured 12
    * effective cores of 32 at sf10). Both sides are one ReusedExchange.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        w: Int = 3, threshold: Double = 0.8): DataFrame = {
    val arrs = graft.core.CacheScope.cached(shingleArrays(df, textCol, idCol, w))
    val prefLen = (size(col("_arr")) -
      ceil(size(col("_arr")) * lit(threshold)).cast("int") + 1)
    val pref = prefixRows(arrs, prefLen)
      .repartition(wideShufflePartitions(df), col("shingle"))
    val candidates = pref.as("a").hint("merge")
      .join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            lit(threshold) * greatest(col("a.n"), col("b.n")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifyPairsExactArrays(candidates, arrs, threshold)
  }

  /** Asymmetric containment pairs (Broder): |A∩B| / |A| >= threshold
    * flags A as a near-SUBSET of B — catches boilerplate wrappers and
    * quote-expansions that symmetric Jaccard misses (a small doc embedded
    * in a big one has low Jaccard but high containment).
    *
    * The emitted predicate `c_ab >= t OR c_ba >= t` is EXACTLY the
    * overlap coefficient: max(i/na, i/nb) = i/min(na, nb), so a pair
    * qualifies iff `i >= t * min(na, nb)`. Two consequences drive the
    * candidate design:
    *
    *   - Pure SIZE pruning is VACUOUS for this predicate. The directed
    *     bound (c_ab >= t needs nb >= i >= t*na) looks binnable, but the
    *     OR admits every size pair: whichever side is larger, the
    *     SMALLER doc can always be t-contained in it (min >= t*max fails
    *     only for the direction the OR doesn't need). Length-bin joins
    *     therefore prune nothing here — recorded so the next reader
    *     doesn't re-derive it (SCALE_STRESS round 13).
    *   - The PER-PAIR overlap bound k = ceil(t * min(na, nb)) IS
    *     filterable, but only at join time when both sizes are on the
    *     row: a one-sided static prefix (r11 A/B) leaves the candidate
    *     set tens-of-millions large because each side's required prefix
    *     depends on the partner's size.
    *
    * Shape: shingle self-join + pair-count aggregation. The sound
    * generalization of binning — a PER-PAIR two-sided prefix filter
    * (every shingle row carries its position; the join condition applies
    * the Bayardo prefix lemma with k = ceil(t*min(na,nb)) computed on
    * the joined row) followed by a candidate distinct + array-fetch
    * verify — was built and measured at the sf10 tier in round 13:
    * 2163 task-core-s vs 1081 for this aggregation in the same session
    * (tools/ContProbe, identical 25,600-pair output). The filter is
    * structurally weak on real length mixes: any pair touching a SMALL
    * doc keeps near-full prefixes (k ≈ t*n_small leaves n − k + 1 ≈ n
    * positions on the large side), so the candidate set stays
    * millions-large and the fetch verify's two candidate-sized array
    * shuffles dominate — the same verdict as r11's one-sided prefix
    * (8x worse). The aggregation formulation keeps the per-row payload
    * at four longs; both set sizes ride the joined rows so no sizes
    * rollup follows. merge hint + WIDE join-key repartition: same
    * no-dimension-side / parallelism-cap reasoning as
    * [[ngramJaccardPairs]]'s candidate join. Work-parity with the
    * single-node oracle is measured (~540 engine vs ~480 DuckDB core-s,
    * SCALE_STRESS r12); the residual sf10 WALL gap is single-JVM
    * scheduling/GC that an executor spread absorbs.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       w: Int = 3, threshold: Double = 0.8): DataFrame =
    // Dispatch (r18), on BOTH corpus size and threshold — each leg is a
    // measured crossover, not a guess:
    //  - Below the footer-proven size cutoff the aggregation form wins:
    //    the prefix form's candidate distinct + two array-fetch joins
    //    are pure stage-floor cost on a dimension-sized corpus
    //    (same-window sf0.1 A/B: agg 11.4 vs prefix 15.3 task-s).
    //  - Above it the verdict is THRESHOLD-dependent, because each
    //    side's prefix keeps ~(1-t) of its positions, so candidate
    //    volume scales with (1-t)² of the full co-occurrence stream.
    //    At the operator default t=0.8 the r13 rejection has INVERTED
    //    under the sorted-array natives: a 10-rep alternated sf10 A/B
    //    (tools/ContProbe, 4 sessions) has prefix winning 8 of 10 warm
    //    comparisons, median 464 vs 778 task-s (guide §2.2/§2.3: fewer
    //    rows into the wide exchange). At t=0.6 the SAME protocol has
    //    prefix losing every rep (1651-2732 vs 931-1180 task-s) — the
    //    longer prefixes regenerate most of the co-occurrence stream
    //    AND pay the distinct + fetch joins on top. The prefix arm
    //    therefore requires t >= 0.8, exactly where it is measured.
    // Unknown size = NOT small (the scale-safe default lands on prefix
    // only with a qualifying threshold). Both forms are spec-pinned
    // output-identical (boundary pairs included) and verified equal
    // row-for-row at sf10 at t = 0.6 AND 0.8 (tools/ContEq).
    if (threshold < 0.8 ||
        graft.core.RowCounts.upperBound(df).exists(_ <= wideCorpusCutoff))
      containmentPairsAgg(df, textCol, idCol, w, threshold)
    else containmentPairsPrefix(df, textCol, idCol, w, threshold)

  /** Aggregation form of [[containmentPairs]] (the r12-r17 shipped
    * shape): shingle self-join straight into the per-pair count
    * aggregation — no candidate materialization, no fetch joins. The
    * bench-tier winner (stage floors dominate dimension-sized corpora).
    */
  private[graft] def containmentPairsAgg(df: DataFrame, textCol: String,
                                         idCol: String, w: Int,
                                         threshold: Double): DataFrame = {
    val sh = graft.core.CacheScope.cached(shinglesN(df, textCol, idCol, w))
      .repartition(wideShufflePartitions(df), col("shingle"))
    sh.as("a").hint("merge")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
      .withColumn("c_ab", round(col("i").cast("double") / col("na"), 6))
      .withColumn("c_ba", round(col("i").cast("double") / col("nb"), 6))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select("doc_a", "doc_b", "c_ab", "c_ba")
  }

  /** Prefix-filtered form of [[containmentPairs]] (the at-scale shape):
    * every shingle row carries its POSITION in the doc's sorted array,
    * and the self-join applies the two-sided Bayardo prefix bound with
    * the per-pair overlap requirement evaluated on the joined row —
    * candidates then verify in-row against the fetched arrays
    * ([[verifyPairsExactArrays]]'s shape, with the containment
    * predicate).
    *
    * EXACTNESS of the candidate bound against the ROUNDED predicate:
    * a qualifying pair satisfies max(c_ab, c_ba) = round(i/min(na,nb),
    * 6) >= t (round is monotone and i/min is the larger ratio), which
    * under HALF_UP rounding forces i >= (t - 5e-7)·min, hence
    * i >= k := max(1, ceil((t - 5e-7)·min) - 1) (x >= ceil(x) - 1
    * always; the extra -1 absorbs float evaluation-order slack — a
    * looser k only ADDS candidates, never drops a qualifying pair).
    * With overlap >= k and both arrays sorted by one global order, the
    * pair must collide within each side's first n - k + 1 elements
    * (the prefix lemma), which is exactly the join's position filter.
    * The verify step then applies the operator's own rounded predicate,
    * so false candidates cost shuffle rows, never wrong output.
    */
  private[graft] def containmentPairsPrefix(df: DataFrame, textCol: String,
                                            idCol: String, w: Int,
                                            threshold: Double): DataFrame = {
    val arrs = graft.core.CacheScope.cached(shingleArrays(df, textCol, idCol, w))
    // position-annotated shingle rows; when() guard as in prefixRows
    val pos = arrs.select(col("doc"), size(col("_arr")).as("n"),
        posexplode(when(size(col("_arr")) > 0, col("_arr"))))
      .select(col("doc"), col("n"), (col("pos") + lit(1)).as("pos"),
        col("col").as("shingle"))
      .repartition(wideShufflePartitions(df), col("shingle"))
    val minN = least(col("a.n"), col("b.n"))
    val k = greatest(lit(1L),
      (ceil(lit(threshold - 5e-7) * minN) - 1).cast("long"))
    val candidates = pos.as("a").hint("merge")
      .join(pos.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
          col("a.pos") <= col("a.n") - k + 1 &&
          col("b.pos") <= col("b.n") - k + 1)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    candidates.hint("merge")
      .join(arrs.select(col("doc").as("doc_a"), col("_arr").as("_arr_a")),
        Seq("doc_a"))
      .hint("merge")
      .join(arrs.select(col("doc").as("doc_b"), col("_arr").as("_arr_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.GraftBridge
          .intersectCount(col("_arr_a"), col("_arr_b")).as("i"),
        size(col("_arr_a")).as("na"), size(col("_arr_b")).as("nb"))
      .withColumn("c_ab", round(col("i").cast("double") / col("na"), 6))
      .withColumn("c_ba", round(col("i").cast("double") / col("nb"), 6))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select("doc_a", "doc_b", "c_ab", "c_ba")
  }

  /** [[containmentPairs]] with a shingle DOCUMENT-FREQUENCY CEILING — the
    * standard production mitigation for hot shingles (a boilerplate
    * header, a stop-phrase, a shared template): a shingle occurring in
    * more than `ceil(maxDfFrac * N)` documents is dropped from BOTH the
    * pair generation and every document's set size, so containment is
    * computed over the FILTERED shingle sets. Deliberately a separate
    * operator, not a flag on containmentPairs: the semantics differ from
    * the exact predicate (a pair can gain or lose membership when hot
    * shingles are excluded), so pipelines opt in explicitly.
    *
    * Why the exact form needs this at scale: the self-join emits
    * C(df_s, 2) rows PER SHINGLE — a stop-phrase shingle owning 10% of a
    * 10^9-doc corpus alone yields ~5*10^15 join rows, quadratic blowup
    * no partitioning fixes (measured on the hot-template skew tier, see
    * SCALE_STRESS round 14). The ceiling restores the linear-in-corpus
    * candidate bound: Σ C(df_s,2) ≤ maxDf/2 * Σ df_s = O(maxDf * S).
    *
    * Scale shape: the hot-shingle list is STRUCTURALLY dimension-sized —
    * #{s : df_s > maxDf} ≤ S / maxDf for S total (doc, shingle) rows —
    * so it broadcasts (hinted; the anti/semi joins stay map-side at any
    * corpus size). Filtered set sizes are NOT recounted over the stream
    * (an earlier per-doc window formulation sorted the whole shingle
    * stream — measured 1410 vs 484 core-s against the exact operator at
    * the 100x tier on a hot-free corpus); instead each doc's ORIGINAL
    * in-row size rides the join and the pair aggregation's output —
    * result-sized, tiny — is adjusted by a per-doc DROPPED-count table
    * (`n_filtered = n − dropped`). The dropped stream holds only hot
    * occurrences, so its aggregate is far below corpus scale, and the
    * two adjustment joins shuffle the OUTPUT, never the shingle stream.
    * Clean-tier overhead vs the exact operator is therefore one extra
    * wide hash aggregation (the df census), nothing else.
    */
  def containmentPairsCapped(df: DataFrame, textCol: String, idCol: String,
                             w: Int = 3, threshold: Double = 0.8,
                             maxDfFrac: Double = 0.05): DataFrame = {
    val sh = graft.core.CacheScope.cached(shinglesN(df, textCol, idCol, w))
    // corpus size as a 1-row scalar (cross-joined in — no driver count)
    val nDf = df.select(count(lit(1)).cast("double").as("_nd"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      .crossJoin(nDf)
      .filter(col("_df") > ceil(lit(maxDfFrac) * col("_nd")))
      .select("shingle")
    cappedTail(sh, hot, wideShufflePartitions(df), threshold)
  }

  /** [[containmentPairsCapped]] with a SAMPLED df census: the hot-shingle
    * list comes from the deterministic 1-in-`sampleMod` doc subset
    * (`id % sampleMod == 0`) with the ceiling applied to the SAMPLE size,
    * so the census aggregation — the capped operator's only clean-tier
    * premium over the exact form, ~50% of its wall on hot-free corpora
    * (VERDICT r14) — shrinks by the sample factor. An ε-approximate
    * census is semantically honest here because the cap itself is a
    * heuristic: a shingle at document frequency D lands in the sample
    * ~Binomial(D, 1/sampleMod), so at the frequencies the cap exists for
    * (df ≥ maxDfFrac·N, i.e. thousands+ of docs at any real tier) the
    * sampled df concentrates within a few percent of df/sampleMod and
    * the hot/cold decision flips only for shingles sitting ON the
    * ceiling — exactly the ones whose inclusion was already arbitrary.
    * Deterministic and engine-reproducible by construction (an id-mod
    * subset, not RNG — cf. [[graft.operators.Sampling.deterministic]]),
    * so the gate's external oracle replays the same census in SQL.
    *
    * DEGENERATE-SAMPLE GUARD (r15 verdict task 2): an id-mod subset is
    * only a census when the id space actually strides through the mod
    * classes — a corpus whose ids are stride/offset-correlated (every id
    * ≡ 1 mod 8 after an upstream filter or key-space offset) yields an
    * EMPTY sample, `_nd` = 0, every shingle clears `ceil(0)` and is
    * marked hot, and the operator silently returns zero pairs. The
    * sample size is therefore counted up front (one id-pruned count job
    * — no text bytes read; its result doubles as the census denominator
    * literal, replacing the old scalar cross join) and the operator
    * falls back to the EXACT census below `minSample` docs — correct by
    * construction, and the census premium it re-pays is only ever paid
    * on corpora too small for the premium to matter.
    *
    * RATIO FLOOR (r16 verdict task 2): the absolute floor alone lets a
    * PARTIALLY stride-correlated id space through — a 1M-doc corpus
    * with only 40 ids in the sampled class clears `minSample` yet runs
    * the census on a 0.004% sample, silently voiding the Binomial(D,
    * 1/sampleMod) concentration premise the scaladoc above rests on.
    * The sample must also carry at least HALF its expected share of the
    * corpus (`nSamp ≥ N/(2·sampleMod)`, one extra count-star job — no
    * text bytes); anything thinner is evidence the id space does not
    * stride and the exact census is the only honest one.
    */
  def containmentPairsCappedApprox(df: DataFrame, textCol: String,
                                   idCol: String, w: Int = 3,
                                   threshold: Double = 0.8,
                                   maxDfFrac: Double = 0.05,
                                   sampleMod: Int = 8,
                                   minSample: Long = 32L): DataFrame = {
    // both guard counts in ONE job (r17): count(when(pred, 1)) counts
    // exactly the rows the old filter().count() did (a null id makes the
    // predicate null -> uncounted, same as the filter dropping it), and
    // the fused agg reads the id column once instead of twice
    val guardRow = df.agg(
      count(when(col(idCol) % sampleMod === 0, lit(1))).as("_ns"),
      count(lit(1)).as("_nt")).collect()(0)
    val (nSamp, nTotal) = (guardRow.getLong(0), guardRow.getLong(1))
    if (nSamp < minSample || nSamp * 2L * sampleMod < nTotal)
      containmentPairsCapped(df, textCol, idCol, w, threshold, maxDfFrac)
    else {
      val sh = graft.core.CacheScope.cached(shinglesN(df, textCol, idCol, w))
      val hot = sh.filter(col("doc") % sampleMod === 0)
        .groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > ceil(lit(maxDfFrac) * lit(nSamp.toDouble)))
        .select("shingle")
      cappedTail(sh, hot, wideShufflePartitions(df), threshold)
    }
  }

  /** Dropped-count frames above this row count join unhinted instead of
    * broadcasting (at ~24 B/row this bound is ~100 MB — comfortably
    * inside any executor, far below Spark's 8 GB broadcast ceiling).
    */
  private[operators] val MaxDroppedBroadcastRows: Long = 1L << 22

  /** Shared pair stage of the capped-containment family: anti/semi-join
    * the (broadcast, structurally dimension-sized) hot list, self-join
    * the filtered stream on shingle, adjust per-doc sizes by the dropped
    * counts (see [[containmentPairsCapped]]'s scale notes).
    *
    * STATIC-PLAN SAFETY (r16 verdict task 1): the hot census — already
    * aggregated and dimension-sized (≤ S/maxDf keys) — is cached and
    * counted on the driver, because the EMPTY census is the common
    * clean-corpus case and its plan shape is structurally knowable: no
    * hot shingles means nothing to anti-join away and nothing dropped,
    * so the whole hot machinery (anti join, semi-join census, two
    * adjustment joins) is elided at plan time. The r16 sf100sub stress
    * showed why runtime re-planning is not enough: under static planning
    * the size estimator SMJ'd the adjustment joins against EMPTY dropped
    * frames, exchanging the 1.27 B-row pair frame twice (3.83 B vs
    * 1.61 B shuffle rows, 1,057 vs 586 s) — a penalty AQE happened to
    * mask but the plan should never have risked. When the census IS
    * non-empty, the dropped frames (per-doc hot-occurrence counts, ≤ one
    * row per doc containing a hot shingle) are cached once — both
    * adjustment joins share the semi-join + aggregate — counted, and
    * broadcast explicitly while bounded ([[MaxDroppedBroadcastRows]]);
    * a boilerplate-saturated corpus whose dropped frame outgrows the
    * bound degrades to an unhinted join against the aggregated
    * (result-sized) pair frame, never an exchange of the candidate
    * stream.
    */
  private def cappedTail(sh: DataFrame, hot0: DataFrame, parts: Int,
                         threshold: Double): DataFrame = {
    val hot = graft.core.CacheScope.cached(hot0)
    val nHot = hot.count()
    // NOT cached (r17): the self-join's two sides are the identical
    // repartition subtree, so ReuseExchange materializes the exchange
    // once and both sides read its shuffle output — the prior scoped
    // cache wrote the whole filtered stream a second time (columnar
    // cache build) to serve exactly the reads the shuffle files already
    // serve (measured: ~2 task-s and one cache pass saved at sf0.1,
    // plan now matches the exact operator's ReusedExchange shape).
    // The anti-join sits BELOW the exchange, so it too runs once.
    val filtered =
      (if (nHot == 0L) sh
       else sh.join(broadcast(hot), Seq("shingle"), "left_anti"))
        .repartition(parts, col("shingle"))
    val agg = filtered.as("a").hint("merge")
      .join(filtered.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.n").as("_na0"), col("b.n").as("_nb0"))
      .agg(count(lit(1)).as("i"))
    val adjusted =
      if (nHot == 0L)
        agg.withColumn("na", col("_na0")).withColumn("nb", col("_nb0"))
      else {
        val dropped = graft.core.CacheScope.cached(
          sh.join(broadcast(hot), Seq("shingle"), "left_semi")
            .groupBy(col("doc")).agg(count(lit(1)).as("_drop")))
        val hint: DataFrame => DataFrame =
          if (dropped.count() <= MaxDroppedBroadcastRows) broadcast(_)
          else identity
        agg
          .join(hint(dropped.select(col("doc").as("doc_a"), col("_drop").as("_da"))),
            Seq("doc_a"), "left")
          .join(hint(dropped.select(col("doc").as("doc_b"), col("_drop").as("_db"))),
            Seq("doc_b"), "left")
          .withColumn("na", col("_na0") - coalesce(col("_da"), lit(0L)))
          .withColumn("nb", col("_nb0") - coalesce(col("_db"), lit(0L)))
      }
    adjusted
      .withColumn("c_ab", round(col("i").cast("double") / col("na"), 6))
      .withColumn("c_ba", round(col("i").cast("double") / col("nb"), 6))
      .filter(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .select("doc_a", "doc_b", "c_ab", "c_ba")
  }

  /** Cross-corpus contamination (train ↔ eval n-gram overlap — the
    * decontamination check every serious pretraining pipeline runs before
    * training): for each (train, bench) doc pair sharing at least
    * `minShared` distinct n-gram shingles, emit the shared count and the
    * containment fraction OF THE BENCHMARK doc (shared / bench shingles —
    * how much of the eval doc leaks into that training doc).
    *
    * Scale shape: same shuffle-on-shingle equi join as [[ngramJaccardPairs]],
    * but the benchmark side is orders of magnitude smaller than the
    * training corpus (eval suites are MBs against TBs), so the size-based
    * planner broadcasts the bench shingle table and the check rides a
    * single map-side pass over the training shingles — no self-join.
    */
  def decontaminationPairs(train: DataFrame, bench: DataFrame,
                           textCol: String, idCol: String,
                           w: Int = 8, minShared: Long = 1): DataFrame = {
    val ts = shingles(train, textCol, idCol, w)
      .withColumnRenamed("doc", "train_doc")
    // the bench doc's shingle count rides each broadcast row (shinglesN),
    // so no per-doc sizes rollup or extra join follows the overlap count
    val bs = graft.core.CacheScope.cached(
      shinglesN(bench, textCol, idCol, w)
        .select(col("doc").as("bench_doc"), col("n").as("bn"), col("shingle")))
    ts.join(bs, "shingle")
      .groupBy(col("train_doc"), col("bench_doc"), col("bn"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .withColumn("bench_containment",
        round(col("shared").cast("double") / col("bn"), 6))
      .select("train_doc", "bench_doc", "shared", "bench_containment")
  }

  // ---------------------------------------------------------------- minhash

  /** Deterministic shingle hash. xxhash64 is a codegen'd builtin, ~10x
    * cheaper than an md5+hex-parse chain; determinism (fixed seed 42) is
    * all MinHash/SimHash need — the correctness oracle verifies via exact
    * Jaccard on the shingle STRINGS, never by recomputing hashes.
    */
  def shingleHash(shingle: Column): Column = xxhash64(shingle)

  /** Mersenne-ish prime for the permutation family (fits 31 bits so
    * a*h+b stays inside signed 64-bit).
    */
  val MinhashPrime: Long = 2147483647L

  /** Fixed LCG-generated permutation coefficients (a, b) — deterministic
    * across runs/engines.
    */
  def permutations(n: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) % (MinhashPrime - 1) + 1 }
    Seq.fill(n)((next(), next()))
  }

  /** MinHash signatures as one `sig: array<bigint>` column per doc, from
    * an exploded (doc, shingle) frame. Re-assembles the per-doc hash set
    * and applies the in-row native [[graft.functions.MinHashSig]] —
    * prefer [[minhashSignaturesFromArrays]] when the pre-explode arrays
    * are at hand (zero shuffle).
    */
  def minhashSignatures(sh: DataFrame, numPerm: Int = 128): DataFrame =
    sh.groupBy(col("doc")).agg(collect_list(col("shingle")).as("_hs"))
      .select(col("doc"),
        org.apache.spark.sql.GraftBridge.minHashSig(col("_hs"), numPerm).as("sig"))

  /** MinHash signatures straight off a [[shingleArrays]] frame — a pure
    * MAP (the per-doc shingle set never leaves its row): no signature
    * shuffle exists in this formulation at any scale. Docs with empty
    * shingle sets are dropped (they previously produced no group).
    *
    * Call on a CACHED/materialized arrays frame: on a raw
    * [[shingleArrays]] alias, PushDownPredicates would substitute the
    * full shingle expression into the size filter below the spread
    * exchange (NOTES.md round-1 finding 1).
    */
  def minhashSignaturesFromArrays(arrs: DataFrame, numPerm: Int = 128): DataFrame =
    arrs.filter(size(col("_arr")) > 0)
      .select(col("doc"),
        org.apache.spark.sql.GraftBridge.minHashSig(col("_arr"), numPerm).as("sig"))

  /** MinHash + LSH near-dup candidate pairs, exactly verified.
    *
    * bands x rowsPerBand = numPerm; docs sharing any band bucket become
    * candidates (join on band hash — the LSH bucket join), then candidates
    * are verified with exact Jaccard so the output contains no false
    * positives; recall follows the standard 1-(1-s^r)^b curve.
    *
    * Choosing (numPerm, bands) is a recall-vs-candidate-volume trade on
    * that curve, and the miss budget must be priced AT THE DEPLOYED
    * SCALE, not the test tier: with r = numPerm/bands rows per band,
    * P(miss | j=t) = (1-t^r)^bands — at t=0.8, r=8/b=16 is ~5.3% per
    * borderline pair (measured: one j=0.800 pair missed at the 10x sf1
    * stress tier), while r=4/b=32 is ~5e-8 at the cost of candidates
    * down to j~0.42. Pipelines gated against an exact pair oracle use
    * r=4; throughput-first 100 TB dedup where borderline misses are
    * priced in keeps r=8.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      w: Int = 3, numPerm: Int = 128, bands: Int = 16,
                      threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0)
    // ONE cached pass over the corpus: per-doc shingle-hash arrays. The
    // in-row signatures (a pure map — see minhashSignaturesFromArrays)
    // and the array-based exact verification both derive from it.
    val arrs = graft.core.CacheScope.cached(shingleArrays(df, textCol, idCol, w))
    // cache the bucket table (bands rows per doc of three longs) so the
    // signature map feeding both sides of the self-join runs once. merge
    // hint: the frame is CORPUS-proportional (docs x bands), not a
    // dimension — the size-based planner's explode-derived estimate
    // undersold it and broadcast it for whole tiers, which built fine at
    // 10x and OOM'd the driver at the 100x tier ("Not enough memory to
    // build and broadcast"). The at-scale plan is one shuffle of each
    // side on (band, bucket).
    val buckets = graft.core.CacheScope.cached(
      bandBuckets(minhashSignaturesFromArrays(arrs, numPerm), numPerm, bands))
    val candidates = buckets.as("x").hint("merge")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .distinct()
    verifyPairsExactArrays(candidates, arrs, threshold)
  }

  /** Incremental NEAR-dup detection: pairs (batch doc, corpus doc) with
    * exact Jaccard >= threshold, found via cross-corpus MinHash-LSH — the
    * near-dup analogue of [[incrementalNewBloom]]'s exact-dup path, and
    * what a continuously-ingesting pipeline actually runs: the corpus is
    * never re-paired against itself, only the increment is.
    *
    * Scale shape: the corpus side's signatures + band buckets are a pure
    * function of the corpus — computed once per ingest epoch and
    * persisted/bucketed by (band, bucket) at 100 TB, so each batch pays
    * only its own signature pass plus an equi join against corpus
    * buckets. Candidates are exactly verified on their shingle sets
    * alone (two-sided: each side's shingles join only its own docs).
    * LSH guarantees (probabilistically) no false negatives at the
    * banding's S-curve; the oracle is the exact cross formulation, which
    * the band parameters must therefore match (r=8 against 0.8).
    */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
                          textCol: String, idCol: String,
                          w: Int = 3, numPerm: Int = 128, bands: Int = 16,
                          threshold: Double = 0.8): DataFrame =
    // one-shot path: a throwaway index must not persist long-lived storage
    // (see ivfTopK) — its frames register with the query-scoped CacheScope.
    // Candidate-generation dispatch (small corpus -> direct shingle join)
    // happens inside pairs(), sized at index-build time.
    buildNearDupIndex(corpus, textCol, idCol, w, numPerm, bands, cache = false)
      .pairs(batch, textCol, idCol, threshold)

  /** Priced row count for plan-shape decisions: the zero-job footer
    * UPPER bound when decisive, one column-pruned count when the bound
    * says the input is merely scan-cheap, None (assume huge) otherwise.
    */
  private def pricedRowCount(df: DataFrame): Option[Long] =
    graft.core.RowCounts.upperBound(df) match {
      case Some(b) if b <= directPairCutoff => Some(b)
      case Some(b) if b <= 4000000L => Some(graft.core.RowCounts.of(df))
      case _ => None
    }

  /** LSH band buckets (doc, band, bucket) from a shingle table — the
    * corpus-side hash tables of MinHash-LSH.
    */
  private[graft] def bandBuckets(sig: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    val r = numPerm / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * r + 1, r)).as("bucket"))
    }
    sig.select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bucket"))
  }

  /** Build the corpus side of incremental near-dup detection ONCE per
    * ingest epoch: per-doc sorted shingle arrays (exact-verify side) and
    * band buckets (candidate side). `cache = true` persists the frames
    * for the build-once/query-many lifecycle (an epoch's worth of
    * batches); `cache = false` scopes them to the current query via
    * CacheScope.
    */
  def buildNearDupIndex(corpus: DataFrame, textCol: String, idCol: String,
                        w: Int = 3, numPerm: Int = 128, bands: Int = 16,
                        cache: Boolean = true): NearDupIndex = {
    require(numPerm % bands == 0)
    def keep(df: DataFrame): DataFrame =
      if (cache) df.persist() else graft.core.CacheScope.cached(df)
    // one pass over the corpus builds the per-doc hash arrays — kept as
    // the index's verify side (the array-merge verification reads them
    // directly; nothing re-derives the exploded view), with the
    // (map-only, shuffle-free) signature buckets derived from the same
    // frame at build time.
    val arrs = keep(shingleArrays(corpus, textCol, idCol, w))
    val bkt = keep(bandBuckets(
      minhashSignaturesFromArrays(arrs, numPerm), numPerm, bands))
    // corpus size (footer bound / priced count) rides the index so
    // pairs() can dispatch small corpora to the direct shingle join
    new NearDupIndex(arrs, bkt, w, numPerm, bands, pricedRowCount(corpus))
  }

  /** Reassemble a [[NearDupIndex]] from already-materialized parts — the
    * streaming sink's incremental corpus store, where each micro-batch
    * appends its own (batch-pure) arrays/buckets partitions and the
    * corpus index for batch N is the union of all committed prior parts
    * (see [[graft.streaming.StreamingDedup.nearDupBatchSink]]).
    */
  def nearDupIndexFromParts(arrays: DataFrame, buckets: DataFrame,
                            w: Int, numPerm: Int, bands: Int): NearDupIndex =
    new NearDupIndex(arrays, buckets, w, numPerm, bands)

  /** On-disk format version written by [[NearDupIndex.save]] and required
    * by [[loadNearDupIndex]]. Bump whenever the saved schema changes
    * incompatibly (v3: the verify side is the per-doc sorted-distinct
    * shingle array table (doc, _arr) — the v2 exploded (doc, n, shingle)
    * parquet is gone; v2: shingles carried (doc, n, shingle:long) with
    * in-row set sizes).
    */
  val NearDupIndexFormatVersion: Int = 3

  /** Re-open a saved near-dup index ([[NearDupIndex.save]]); band/params
    * come from the persisted params row, the frames read lazily. Fails
    * fast — with a "rebuild the index" message, not a confusing
    * missing-column error at query time — if the directory was written
    * by an incompatible build (no/old format version, wrong shingles
    * schema).
    */
  def loadNearDupIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       cache: Boolean = true): NearDupIndex = {
    val params = spark.read.parquet(s"$dir/params")
    val p = params.collect().head // one collect serves version probe + params
    val ver =
      if (params.columns.contains("format_version")) p.getAs[Int]("format_version")
      else 1
    require(ver == NearDupIndexFormatVersion,
      s"near-dup index at $dir has format version $ver, this build reads " +
        s"$NearDupIndexFormatVersion — rebuild the index with buildNearDupIndex().save()")
    val arrays = spark.read.parquet(s"$dir/arrays")
    val expected = Set("doc", "_arr")
    require(arrays.columns.toSet == expected &&
        (arrays.schema("_arr").dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, _) => true
          case _ => false
        }),
      s"near-dup index at $dir has arrays schema ${arrays.schema.simpleString}, " +
        s"expected (doc, _arr:array<bigint>) — rebuild the index")
    def keep(df: DataFrame): DataFrame = if (cache) df.persist() else df
    new NearDupIndex(
      keep(arrays),
      keep(spark.read.parquet(s"$dir/buckets")),
      p.getAs[Int]("w"), p.getAs[Int]("num_perm"), p.getAs[Int]("bands"))
  }

  /** The corpus-side artifacts of incremental near-dup detection — a pure
    * function of the corpus, computed once per ingest epoch and queried by
    * every incoming batch ([[incrementalNearDups]] semantics). At 100 TB
    * the saved form is the deployment shape: `buckets` partitioned by band
    * so a batch's bucket join prunes to the bands it actually probes, the
    * shingle table co-partitioned on the join key by the shuffle itself.
    */
  class NearDupIndex private[operators] (
      /** Corpus per-doc sorted-distinct shingle arrays (doc, _arr) — the
        * exact-verify side, consumed in-row by the native sorted-merge
        * intersection ([[graft.functions.SortedIntersectCount]]).
        */
      val arrays: DataFrame,
      /** Corpus LSH band buckets (doc, band, bucket) — the candidate side. */
      val buckets: DataFrame,
      val shingleWidth: Int, val numPerm: Int, val bands: Int,
      /** Corpus row count when cheaply known at build time (None = assume
        * huge). Lets [[pairs]] dispatch a SMALL corpus to the direct
        * shingle join, skipping the batch-side MinHash pass entirely.
        */
      val corpusRows: Option[Long] = None) {

    /** Persist the index for reuse across batches/sessions. */
    def save(dir: String): Unit = {
      buckets.write.mode("overwrite").partitionBy("band").parquet(s"$dir/buckets")
      arrays.write.mode("overwrite").parquet(s"$dir/arrays")
      val spark = arrays.sparkSession
      import spark.implicits._
      Seq((shingleWidth, numPerm, bands, Dedup.NearDupIndexFormatVersion))
        .toDF("w", "num_perm", "bands", "format_version")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    }

    def unpersist(): Unit = {
      arrays.unpersist(false); buckets.unpersist(false)
    }

    /** WITHIN-index near-dup pairs (doc_a < doc_b, exact Jaccard >=
      * threshold) from the index's own arrays/buckets — the
      * [[Dedup.minhashLshPairs]] formulation without re-shingling
      * anything: the streaming sink uses it so a batch's one shingle
      * pass feeds self-pairs, cross-pairs, AND the corpus-store append.
      */
    def selfPairs(threshold: Double = 0.8): DataFrame = {
      val candidates = buckets.as("x").hint("merge")
        .join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
        .distinct()
      verifyPairsExactArrays(candidates, arrays, threshold)
    }

    /** CROSS near-dup pairs between another (typically batch-sized)
      * index and this corpus index: candidates from the band-bucket
      * equi join of the two prebuilt bucket tables, each side's arrays
      * fetched by its own doc id — neither side re-shingles. Output
      * (doc_a = other's doc, doc_b = this index's doc, jaccard).
      */
    def pairsWith(other: NearDupIndex, threshold: Double = 0.8): DataFrame = {
      require(other.shingleWidth == shingleWidth && other.numPerm == numPerm &&
        other.bands == bands,
        "cross-index pairing requires identical (w, numPerm, bands)")
      val candidates = other.buckets.as("x")
        .join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
        .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
        .distinct()
      // batch arrays (a) stay broadcastable; corpus arrays (b) force SMJ
      Dedup.verifyPairsExactArraysTwo(candidates, other.arrays, arrays,
        threshold, mergeA = false, mergeB = true)
    }

    /** Near-dup pairs (batch doc, corpus doc) with exact Jaccard >=
      * threshold: the batch pays only its own signature pass plus the
      * bucket equi join against the prebuilt corpus side. Verification
      * fetches both docs' arrays by id and merges in-row — the batch
      * arrays side is batch-proportional (MBs against a TB corpus), so
      * the size-based planner broadcasts it and only the corpus-array
      * fetch shuffles.
      */
    def pairs(batch: DataFrame, textCol: String, idCol: String,
              threshold: Double = 0.8): DataFrame = corpusRows match {
      // SMALL corpus (known at build time): the contract is "pairs with
      // exact Jaccard >= threshold", and LSH is only the candidate
      // mechanism that keeps that sub-quadratic when BOTH sides are
      // large. Against a small corpus the batch-side MinHash pass
      // (numPerm hash-mins per shingle — measured ~25x the verify work
      // at the sf10 tier's 250-doc corpus) buys nothing a direct
      // shingle equi join doesn't give better: the corpus side
      // broadcasts by size, the batch is scanned once, and there are
      // ZERO probabilistic misses.
      case Some(n) if n <= Dedup.directPairCutoff =>
        val shB = Dedup.shinglesN(batch, textCol, idCol, shingleWidth)
          .select(col("doc").as("doc_a"), col("n").as("na"), col("shingle"))
        val shC = arrays.select(col("doc").as("doc_b"),
          size(col("_arr")).as("nb"), explode(col("_arr")).as("shingle"))
        shB.join(shC, "shingle")
          .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
          .agg(count(lit(1)).as("i"))
          .withColumn("jaccard",
            round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
      case _ =>
        val arrsB = graft.core.CacheScope.cached(
          shingleArrays(batch, textCol, idCol, shingleWidth))
        val bktB = bandBuckets(
          minhashSignaturesFromArrays(arrsB, numPerm), numPerm, bands)
        val candidates = bktB.as("x")
          .join(buckets.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
          .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
          .distinct()
        // batch arrays (a) stay broadcastable; corpus arrays (b) force SMJ
        Dedup.verifyPairsExactArraysTwo(candidates, arrsB, arrays,
          threshold, mergeA = false, mergeB = true)
    }
  }

  /** Exact-Jaccard verification restricted to candidate pairs — the
    * intersection join fans out only over candidates' shingles, never the
    * full cross of all docs (this is what keeps LSH sub-quadratic at scale).
    * `sh` must be a [[shinglesN]] frame (doc, n, shingle): both docs' set
    * sizes ride the intersection rows, so no sizes rollup/join is needed.
    *
    * Prefer [[verifyPairsExactArrays]] when the pre-explode arrays are at
    * hand — it replaces the two shingle-fanout joins + count shuffle with
    * two id-equi joins and an in-row sorted merge.
    */
  def verifyPairsExact(candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val shc = graft.core.CacheScope.cached(sh)
    // merge hints: candidates are RESULT-proportional (near-dup density
    // decides, unbounded at 100 TB) and the shingle side is
    // corpus-proportional — neither is a broadcastable dimension, same
    // reasoning as the bucket self-join above
    candidates.hint("merge")
      .join(shc.select(col("doc").as("doc_a"), col("n").as("na"),
        col("shingle").as("s_a")), Seq("doc_a"))
      .hint("merge")
      .join(shc.select(col("doc").as("doc_b"), col("n").as("nb"),
        col("shingle").as("s_a")), Seq("doc_b", "s_a"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .withColumn("jaccard",
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact-Jaccard verification of candidate pairs against per-doc
    * SORTED-DISTINCT shingle arrays ([[shingleArrays]] output): two
    * id-equi joins fetch both docs' arrays onto the pair row, then the
    * native [[graft.functions.SortedIntersectCount]] merge computes the
    * intersection in-row. Compared to [[verifyPairsExact]], the
    * post-join row count drops from O(sum of candidate pairs' matching
    * shingles) to O(pairs), and the count-group shuffle disappears — the
    * intersection never leaves the row it is computed on.
    *
    * At 100 TB this is the fetch-signatures-by-id shape every LSH
    * deduper deploys: the arrays table is the persisted per-doc
    * signature store, the joins partition on doc id, and pair rows carry
    * two bounded arrays (document shingle counts, not corpus size).
    */
  def verifyPairsExactArrays(candidates: DataFrame, arrs: DataFrame,
                             threshold: Double): DataFrame =
    // merge hints on BOTH fetch joins: candidates are RESULT-proportional
    // and the arrays side is corpus-proportional — neither is a
    // broadcastable dimension (the explode-derived estimates undersell
    // these frames; see the bucket self-join rationale above)
    verifyPairsExactArraysTwo(candidates, arrs, arrs, threshold,
      mergeA = true, mergeB = true)

  /** Two-corpus form of [[verifyPairsExactArrays]]: doc_a's arrays come
    * from `arrsA`, doc_b's from `arrsB` (the one-corpus form passes the
    * same frame twice) — the SINGLE definition of the exact-Jaccard
    * verification formula, so the streamed-vs-one-shot fold equivalence
    * the specs pin can never drift between copies. `mergeA`/`mergeB`
    * force SMJ on the respective fetch join when that side is
    * corpus-proportional (explode-derived size estimates undersell
    * arrays frames, so estimate-driven strategy selection can broadcast
    * a corpus); a batch-proportional side stays unhinted and the planner
    * broadcasts it by size.
    */
  def verifyPairsExactArraysTwo(candidates: DataFrame, arrsA: DataFrame,
                                arrsB: DataFrame, threshold: Double,
                                mergeA: Boolean, mergeB: Boolean): DataFrame = {
    val withA = (if (mergeA) candidates.hint("merge") else candidates)
      .join(arrsA.select(col("doc").as("doc_a"), col("_arr").as("_arr_a")),
        Seq("doc_a"))
    (if (mergeB) withA.hint("merge") else withA)
      .join(arrsB.select(col("doc").as("doc_b"), col("_arr").as("_arr_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.GraftBridge
          .intersectCount(col("_arr_a"), col("_arr_b")).as("i"),
        size(col("_arr_a")).cast("long").as("na"),
        size(col("_arr_b")).cast("long").as("nb"))
      .withColumn("jaccard",
        round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Segment-level dedup (the CCNet paragraph-dedup formulation: drop
    * every repeated paragraph corpus-wide, keeping only its first
    * occurrence, then reassemble each document from its surviving
    * paragraphs). Catches the shared boilerplate — headers, navigation,
    * license blocks — that document-level dedup can never remove because
    * the documents differ elsewhere.
    *
    * Segmentation is fixed-width word windows (`segWords` tokens), so
    * corpora without explicit paragraph breaks still segment
    * deterministically; swapping in a delimiter split changes only the
    * segmenter, not the dedup shape. "First occurrence" = lowest
    * (id, segment index) — a total deterministic order.
    *
    * Scale shape: one map-side explode (ceil(n/segWords) rows per doc),
    * one shuffle partitioned by the segment text to rank occurrences, one
    * shuffle back on the doc id to reassemble. The segment is the shuffle
    * key (same key CCNet shards its hash table by); no driver state, no
    * per-key memory beyond a row_number counter. Reassembly order rides a
    * per-row array_sort over the doc's own kept segments — bounded by
    * document size, not corpus size.
    */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segWords: Int = 12): DataFrame = {
    // segments via the fused native chunker (TokenChunks) — the
    // transform/slice/array_join composition was interpreted per
    // segment. when() guard: see shinglesN (no inferable filter below
    // the spread exchange); empty-token docs explode to nothing exactly
    // like the old size(_t) > 0 filter.
    val segs = spread(df)
      .select(col(idCol).as("doc"),
        org.apache.spark.sql.GraftBridge
          .tokenChunks(col(textCol), segWords, segWords).as("_c"))
      .select(col("doc"), posexplode(when(size(col("_c")) > 0, col("_c"))))
      .select(col("doc"), col("pos").as("seg_id"), col("col").as("para"))
    val w = Window.partitionBy(col("para")).orderBy(col("doc"), col("seg_id"))
    segs
      .withColumn("_keep", row_number().over(w) === 1)
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls the `when` leaves for dropped
        // segments; array_sort on (seg_id, para) structs restores the
        // original in-document order before the join
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"),
              struct(col("seg_id"), col("para"))))),
            x => x.getField("para")),
          "\n").as("text_dedup"))
  }

  /** Span-level repeated-substring detection: token n-grams of `width`
    * that recur across at least `minDocs` distinct documents, with their
    * document and occurrence counts — the span-granular dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (suffix-array substring dedup), re-expressed as the
    * shuffle-native approximation a Spark pipeline actually runs: fixed-
    * width spans instead of maximal repeats, one groupBy instead of a
    * global suffix sort.
    *
    * Scale shape: the span explosion is map-side (n - width + 1 rows per
    * n-token doc) feeding ONE shuffle keyed by the span. The distinct-doc
    * count uses Spark's two-phase Expand plan (partial per-span-per-doc
    * collapse map-side before the count), so the shuffle carries
    * span-level partials, not every occurrence. Spans stay textual here
    * because downstream removal needs the span itself (and the oracle
    * compares it); a 100 TB run keys the shuffle on the 8-byte span hash
    * ([[graft.functions.ShingleHashes]]) and resolves text only for the
    * report rows that survive `minDocs`.
    */
  def repeatedSpans(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", width: Int = 8,
                    minDocs: Int = 2): DataFrame = {
    require(width >= 2, "span width must be >= 2")
    // alias the chunk array BEFORE the guard: a when() over the raw
    // chunking chain gets the full expression substituted into both
    // branches by PushDownPredicates (NOTES round-1 finding 1)
    val spans = spread(docs)
      .select(col(idCol).as("doc"),
        org.apache.spark.sql.GraftBridge
          .tokenChunks(lower(col(textCol)), width, 1).as("_c"))
      // stride-1 chunking emits one chunk per token position; only the
      // first (size - width + 1) are full-width — docs shorter than
      // `width` tokens contribute nothing (explode drops the null when())
      .select(col("doc"), explode(when(size(col("_c")) >= width,
        slice(col("_c"), lit(1), size(col("_c")) - (width - 1)))).as("span"))
    spans.groupBy(col("span"))
      .agg(countDistinct(col("doc")).as("n_docs"),
        count(lit(1)).as("n_total"))
      .filter(col("n_docs") >= minDocs)
  }

  /** The 100 TB shape of [[repeatedSpans]]: aggregation keyed by the
    * 64-bit xxhash of the span, with a representative span text carried as
    * a `min` partial aggregate. The shuffle key shrinks from a
    * `width`-token string to 8 bytes and every compare is a long equality;
    * the map-side partial collapse means each map task ships at most one
    * representative string per span hash, not one per occurrence.
    * Contract: a 64-bit collision between distinct spans (~p^2/2^65 for p
    * corpus spans) merges their counts under one representative — same
    * tolerance as the ShingleHashes join keys. A spec pins the two
    * variants equal on real testdata, and both run under the same oracle
    * gate (the hashed gate doubles as an empirical no-collision check).
    *
    * Measured honestly (Quick A/B at sf1, local[32], rep3): parity with
    * the text-keyed form (2.38 vs 2.35 s) — the map-side (span, doc)
    * collapse already bounds local shuffle volume, so the 8-byte key buys
    * nothing on a single box at width 8. It pays when the shuffle crosses
    * a network and key bytes dominate (wider spans, larger tiers, real
    * clusters) — which is why both shapes exist instead of one.
    */
  def repeatedSpansHashed(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id", width: Int = 8,
                          minDocs: Int = 2): DataFrame = {
    require(width >= 2, "span width must be >= 2")
    val spans = spread(docs)
      .select(col(idCol).as("doc"),
        org.apache.spark.sql.GraftBridge
          .tokenChunks(lower(col(textCol)), width, 1).as("_c"))
      .select(col("doc"), explode(when(size(col("_c")) >= width,
        slice(col("_c"), lit(1), size(col("_c")) - (width - 1)))).as("span"))
    spans.groupBy(xxhash64(col("span")).as("_h"))
      .agg(countDistinct(col("doc")).as("n_docs"),
        count(lit(1)).as("n_total"), min(col("span")).as("span"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span"), col("n_docs"), col("n_total"))
  }

  /** The removal step behind [[repeatedSpans]]: rewrite each document
    * dropping every token covered by a NON-FIRST occurrence of a repeated
    * `width`-token span (global first occurrence = smallest
    * (doc id, position); overlapping covered ranges union). This is the
    * ExactSubstr-removal semantics of Lee et al. at fixed width: the
    * earliest copy of a duplicated region survives, later copies — in
    * other documents or later in the same document — are excised.
    * Removal is NOT idempotent by nature (excision creates new token
    * adjacencies, which can form new spans — Lee et al. note the same);
    * callers iterate if they need a fixpoint.
    *
    * Scale shape, mirroring [[segmentDedup]]: one map-side stride-1 span
    * explode -> one span-keyed window (the occurrence ranking — same
    * shuffle key the detection pass uses) -> covered positions exploded
    * (`width` rows per DUPLICATE occurrence only, not per span) ->
    * anti join against the token stream on (doc, position) -> one
    * doc-keyed rebuild. No driver state; reassembly sorts within a single
    * document's kept tokens only.
    *
    * Output: (doc_id, n_tokens, n_removed, text_dedup) for every input
    * document — tokenization is the canonical space-split (empties
    * dropped), so `text_dedup` is whitespace-normalized like
    * [[segmentDedup]]'s.
    */
  def removeRepeatedSpans(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id",
                          width: Int = 8): DataFrame = {
    require(width >= 2, "span width must be >= 2")
    val bridge = org.apache.spark.sql.GraftBridge
    // NOT cached (r18, closing the r17 open item): three consumers derive
    // from this projection, but the r17 scoped cache of it never won the
    // A/B it was shipped without — same-window sf10 interleaved mins are
    // a dead heat (cache 11.5 s / 191 task-s vs none 11.9 s / 192) and
    // sf0.1 is WORSE with the cache (min 9.9 vs 7.0 task-s): building a
    // corpus-sized columnar cache of BOTH token arrays per doc costs more
    // than two extra native tokenize passes over scan-local text, and at
    // the 100x tier the cache is real memory pressure (guide §5) for
    // nothing. The minhash family's arrays cache is different in kind:
    // it feeds a SHUFFLING self-join, not three scan-aligned map passes.
    val base =
      spread(docs).select(col(idCol).as("doc"),
        bridge.tokenChunks(col(textCol), 1, 1).as("_toks"),
        bridge.tokenChunks(col(textCol), width, 1).as("_c"))
    val toks = base.select(col("doc"),
      posexplode(when(size(col("_toks")) > 0, col("_toks"))))
      .select(col("doc"), col("pos").as("tpos"), col("col").as("tok"))
    val spans = base.select(col("doc"),
      posexplode(when(size(col("_c")) >= width,
        slice(col("_c"), lit(1), size(col("_c")) - (width - 1)))))
      .select(col("doc"), col("pos").as("spos"), col("col").as("span"))
    val w = Window.partitionBy(col("span")).orderBy(col("doc"), col("spos"))
    val covered = spans
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("doc"),
        explode(sequence(col("spos"), col("spos") + (width - 1))).as("tpos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc", "tpos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc"))
      .agg(count(lit(1)).as("_n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok")), " ").as("text_dedup"))
    base.select(col("doc"), // null text -> 0 tokens, not a null row
        coalesce(size(col("_toks")).cast("long"), lit(0L)).as("n_tokens"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  // ------------------------------------------------- near-dup clustering

  /** Connected components over a near-dup pair graph -> (doc, cluster)
    * where cluster = min doc id in the component (the kept
    * representative). Iterative min-label propagation: each round joins
    * every node's current label with its neighbors' and takes the min;
    * converges in O(diameter) rounds (near-dup components are tiny, so
    * 2-3 rounds in practice). Each round is one shuffle — the standard
    * scalable CC formulation; no driver-side graph state.
    *
    * Job-count discipline (each scheduled job pays a fixed floor in
    * local mode and a stage round-trip on a cluster): the initial
    * labeling IS the first propagation round (groupBy src -> min
    * neighbor, folded into the same job that materializes the edge
    * cache), and convergence is read from a [[org.apache.spark.sql.Observation]]
    * metric that rides each round's checkpoint job — no separate
    * count job per round, and the loop exits on the first round that
    * observes zero label changes.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    smallGraphLabels(pairs).getOrElse(minLabelCc(pairs, maxIter)._1)

  /** Edge cutoff for the driver-side union-find small path. Sized against
    * what the driver actually holds, not the raw 16 B/edge payload: the
    * primitive-encoder collect yields boxed (Long, Long) tuples
    * (~40 B/edge ≈ 160 MB at the cutoff), the union-find LongMap opens to
    * ~2x node capacity (≤ 2^23 nodes ≈ 256 MB), and the label output is
    * one tuple per node — ~0.5-0.7 GB transient at the worst case, inside
    * any driver that also builds broadcast relations, with the margin
    * stated honestly (r17 advice: the old comment claimed 64 MB while
    * collecting ~500 MB of GenericRows; the Row collect is gone too).
    * Far outside any real near-dup pair graph's per-epoch size at the
    * tiers where round-trip latency (not shuffle volume) dominates.
    */
  private[operators] val DriverCcMaxEdges = 4L << 20

  /** Driver union-find over a MATERIALIZED (persisted) pair graph — the
    * small path of both CC formulations (r17 optimization; same result
    * set, pinned by spec against both distributed paths).
    *
    * Why it exists: the distributed loops pay one localCheckpoint job +
    * barrier per round (3+ rounds even on a converged-at-init graph).
    * But the verified near-dup PAIR table is threshold-bounded and
    * dimension-sized by construction (pair density is what the dedup
    * threshold bounds — the r16 sf100sub census measured it linear in
    * the corpus, ~50 pairs per 5k docs), so at every tier where it fits
    * comfortably on the driver the fixed point is cheaper to compute
    * there than to coordinate: one collect job + an O(E α(E)) local
    * union-find replaces O(rounds) cluster barriers. At 100 TB a pair
    * graph past [[DriverCcMaxEdges]] takes the distributed loops — the
    * scale story is unchanged (and unconditionally exercised by the
    * round-count specs, which call [[minLabelCc]]/[[starCc]] directly).
    *
    * Guarded on all sides: only integral ids qualify (the union-find
    * keys on longs; any other id type is labelled by the distributed
    * loops, which compare ids in their own type), only a persisted input
    * (the count must read cached rows, never recompute an unbounded pair
    * generation twice), and only below the edge cutoff. Anything else
    * falls through to the distributed loops untouched.
    */
  private[graft] def smallGraphLabels(pairs: DataFrame,
                                      maxEdges: Long = DriverCcMaxEdges): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def integral(c: String) = pairs.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral("doc_a") || !integral("doc_b")) None
    else if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) None
    else if (pairs.count() > maxEdges) None
    else {
      val spark = pairs.sparkSession
      // primitive tuple encoder, not Row collect (r18 hardening): a Row
      // array costs ~120 B/edge of driver heap; tuples ~40 B/edge. Null
      // ids are dropped BEFORE the collect (getLong on a null id NPE'd
      // the driver where the distributed loops would not crash; upstream
      // pair generation never emits them, so this is tolerance, not a
      // semantic change). The ids are integral here, so the widening cast
      // never turns a value into a null: only true null ids are dropped.
      val tupleEnc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
      val edges = pairs
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
        .as(tupleEnc)
        .collect()
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent(r) != r) r = parent(r)
        var c = x0
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        // union toward the smaller root: the component min IS the root,
        // no relabel pass needed
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      // output keeps the distributed paths' exact schema (nullable longs —
      // the join-derived cluster column is nullable there); node-count Rows
      // are transient and half the old footprint now that the edge collect
      // is tuple-encoded
      import org.apache.spark.sql.{Row => SRow}
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val out = parent.keys.toArray.sorted.map(n => SRow(n, find(n)))
      Some(spark.createDataFrame(
        java.util.Arrays.asList(out: _*),
        StructType(Seq(StructField("doc", LongType, nullable = true),
          StructField("cluster", LongType, nullable = true)))))
    }
  }

  /** [[nearDupClusters]] plus the number of label-propagation rounds the
    * loop ran (including the final round that observes zero changes) —
    * for round-count measurements on adversarial graph shapes.
    */
  private[graft] def minLabelCc(pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    // pairs carry doc_a < doc_b exactly once, so the two directed copies
    // cannot collide — no distinct needed (that was a full extra shuffle).
    // Directed copies fan out via explode, NOT a self-union: union
    // branches don't share subexpressions, so the (expensive) pair
    // generation subplan would run once per branch when the cache first
    // materializes.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    // localCheckpoint each round: truncates the growing lineage (the
    // classic iterative-algorithm fix — without it round N recomputes
    // rounds 1..N-1). Each round's checkpoint storage is freed as soon as
    // the next round is materialized — working set stays at 2 rounds.
    // The init labeling is already the first neighbor-min round: every
    // node is a src (edges carry both directions), so
    // least(src, min(dst)) == one propagation from the identity
    // labeling — a pure pair (size-2 component) is final before the
    // loop even starts.
    var labels = edges.groupBy(col("src").as("doc"))
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc", "dst"), "dst")
        .groupBy(col("src").as("doc"))
        .agg(min(col("cluster")).as("n_cluster"))
      // carry the old label through the join so convergence is observable
      // inside the checkpoint job itself (no separate count job).
      // l1 is a LAZY cache: the pointer-jump self-join below references it
      // twice; the cache dedups the compute inside the one checkpoint job
      // instead of paying a second eager-checkpoint job per round.
      val l1 = labels.withColumnRenamed("cluster", "_old")
        .join(viaNeighbors, Seq("doc"), "left")
        .select(col("doc"),
          least(col("_old"), coalesce(col("n_cluster"), col("_old"))).as("cluster"),
          col("_old"))
        .cache()
      // pointer jump (label-of-label): neighbor propagation alone needs
      // O(diameter) rounds — a long chain silently hits maxIter
      // unconverged; following the label one hop each round compresses
      // paths and converges in O(log diameter)
      val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
      val next = l1.as("a")
        .join(l1.select(col("doc").as("_ldoc"), col("cluster").as("_lc")),
          col("a.cluster") === col("_ldoc"), "left")
        .select(col("a.doc").as("doc"),
          least(col("a.cluster"), coalesce(col("_lc"), col("a.cluster"))).as("cluster"),
          col("a._old").as("_old"))
        // convergence metric rides the checkpoint job: CollectMetrics is
        // evaluated while the round materializes, so reading it costs no
        // extra job — and checking EVERY round (vs every other) exits one
        // round earlier once the fixed point is reached
        .observe(obs, coalesce(sum(when(col("cluster") =!= col("_old"), 1L)
          .otherwise(0L)), lit(0L)).as("changed"))
        .select(col("doc"), col("cluster"))
        .localCheckpoint(true)
      l1.unpersist(false)
      changed = obs.get("changed").asInstanceOf[Long]
      org.apache.spark.sql.GraftBridge.freeCheckpoint(labels)
      labels = next
      i += 1
    }
    require(changed == 0,
      s"nearDupClusters did not converge within $maxIter rounds")
    // the final labels are eagerly checkpointed, so the edge cache is no
    // longer reachable; free it now. The final labels' checkpoint storage
    // is deliberately NOT scoped for release: the frame is lineage-
    // truncated (freeing it would make the result permanently unusable,
    // not recomputable) and it is tiny — one row per near-dup node.
    edges.unpersist(false)
    (labels, i)
  }

  /** Connected components via alternating large-star / small-star edge
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each phase rewrites every edge toward the minimum
    * of a node's neighborhood, and the edge set converges to a union of
    * stars rooted at the component minima — O(log² n) rounds worst case
    * (the paper reports O(log log n)-like round counts on realistic
    * skewed graphs; our own measurement is the 512-chain fixture below),
    * and each phase touches edges only (no separate label frame), which
    * is the robust structure when the graph's diameter OR degree
    * distribution is adversarial at 100 TB.
    *
    * Schedule (`largeStars` large-star phases then one small-star per
    * round): large-star is what compresses diameter — one application
    * halves the distance-to-minimum on path-like regions — while
    * small-star flattens the stars large-star builds. The default 2-1
    * (the bounded version of the paper's run-large-star-to-fixed-point
    * structure) halves the number of synchronization barriers
    * (checkpoint + driver round trip, the per-round cost that hurts at
    * cluster scale) versus strict 1-1 alternation at the same total
    * shuffle volume on DEEP graphs: measured 10 → 6 rounds on a
    * 512-node chain (OperatorsSpec "star CC" case). On SHALLOW graphs
    * (real near-dup components: diameter 2-3) the second large-star in
    * a round does no extra compression and is pure per-round cost —
    * 1-1 converges in the same number of rounds with one fewer
    * window+shuffle each (measured at sf0.1: same 3 rounds both
    * schedules; see SparkEntry's gate choice). Pick per graph shape.
    * Each round ends in one localCheckpoint to truncate lineage.
    * Convergence is read from an
    * [[org.apache.spark.sql.Observation]] riding the checkpoint job — the
    * edge multiset is a fixed point of both phases iff its (count,
    * hash-sum) signature stops changing (a 64-bit commutative signature;
    * collision odds are negligible and correctness is guarded by the
    * union-find property spec).
    *
    * Same contract as [[nearDupClusters]]: input pairs (doc_a, doc_b),
    * output (doc, cluster) with cluster = min doc id of the component.
    * Returns the round count alongside, for A/B round measurements.
    */
  def nearDupClustersStar(pairs: DataFrame, maxIter: Int = 25,
                          largeStars: Int = 2): DataFrame =
    // same small path as [[nearDupClusters]] — the two formulations share
    // one output contract, so a persisted dimension-sized pair graph
    // short-circuits identically (spec-pinned equal to the star loop)
    smallGraphLabels(pairs).getOrElse(starCc(pairs, maxIter, largeStars)._1)

  private[graft] def starCc(pairs: DataFrame, maxIter: Int = 25,
                            largeStars: Int = 2): (DataFrame, Int) = {
    require(largeStars >= 1, "at least one large-star phase per round")
    import org.apache.spark.sql.expressions.Window
    // canonical u > v, dedup'd; self-pairs dropped defensively
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // isolated roots never reappear as a large endpoint once their star
    // collapses, so collect the node universe up front (tiny: two long
    // columns) — the output must label every node that appeared in pairs
    val nodes = edges.select(explode(array(col("u"), col("v"))).as("doc"))
      .distinct().localCheckpoint(true)
    // -- large-star: for every node s, larger neighbors re-point to
    // min(N(s) ∪ {s}); output keeps the u > v invariant (m <= s < d).
    // NO dedup here: window-min is duplicate-insensitive, each input
    // edge emits at most one output edge (so chained large-stars never
    // grow the frame), and the one distinct per round lives at the
    // small-star end where the convergence signature needs a canonical
    // set — two shuffles per round saved vs dedup-after-every-phase.
    def largeStar(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("u").as("s"), col("v").as("d")),
          struct(col("v").as("s"), col("u").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
        .withColumn("m", least(col("s"), min(col("d")).over(Window.partitionBy("s"))))
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    // -- small-star: group by the larger endpoint u over its smaller
    // neighbors Γ; everyone (Γ ∪ {u}) re-points to min(Γ)
    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"), least(col("n"), col("m")).as("v"))
        .distinct()
    var i = 0
    var prev = (-1L, -1L)
    var converged = false
    while (!converged && i < maxIter) {
      val ss = smallStar(
        (1 to largeStars).foldLeft(edges)((e, _) => largeStar(e)))
      val obs = org.apache.spark.sql.Observation(s"star_cc_$i")
      val next = ss
        .observe(obs,
          coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
        .localCheckpoint(true)
      val sig = (obs.get("n").asInstanceOf[Long], obs.get("h").asInstanceOf[Long])
      org.apache.spark.sql.GraftBridge.freeCheckpoint(edges)
      edges = next
      converged = sig == prev
      prev = sig
      i += 1
    }
    require(converged, s"starCc did not converge within $maxIter rounds")
    // fixed point = min-rooted stars: every non-root carries exactly one
    // edge (u, root); roots and isolated nodes label themselves
    val labels = nodes.as("n")
      .join(edges.select(col("u").as("doc"), col("v").as("root")), Seq("doc"), "left")
      .select(col("doc"), coalesce(col("root"), col("doc")).as("cluster"))
    (labels, i)
  }

  // ------------------------------------------------------- embedding cosine

  /** Embedding-cosine near-dup pairs within blocking groups: an equi join
    * on the blocking key (cluster label, LSH bucket, ...) bounds the pair
    * space, then exact cosine filters. At 100 TB the blocking key is the
    * shuffle/partition key; without it this operator would be a cross
    * product.
    *
    * Cost is QUADRATIC IN BLOCK SIZE by construction (pair enumeration) —
    * but in DISTINCT vectors only when duplicates are plentiful: a light
    * sizing pass (per-block HLL distinct counts) picks between pairing
    * raw rows directly (mostly-distinct corpora — no collapse overhead)
    * and collapsing exact-duplicate vectors to one representative first
    * (duplicate-heavy corpora pay the quadratic on unique content, not
    * row count). Both shapes produce IDENTICAL output (spec-pinned).
    * 10x bigger DISTINCT blocks = 100x the cosine evaluations. The
    * blocking granularity is therefore the scale knob: blocks must stay
    * bounded (finer labels, LSH-bucket blocking) as the corpus grows;
    * when they cannot be bounded, use the candidate-restricted ANN paths
    * ([[Similarity.lshTopK]] / IVF) instead of exhaustive pairs.
    */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, threshold: Double): DataFrame = {
    // Small corpora skip ALL sizing actions: below the cutoff even the
    // degenerate single-block worst case (cutoff^2/2 pair evals) is
    // sub-second work, so plan-construction jobs — not pair evaluation —
    // would dominate the wall. The bound is footer metadata (zero jobs).
    // Collapse is skipped too: at worst it saves cutoff-bounded work
    // while costing a corpus shuffle + cache; so are the merge-join
    // hints (see [[isSmallCorpus]]). The widening Exchange STAYS even
    // when small: measured, removing it serializes the scan-side chain
    // into one task and costs more wall than the exchange does.
    val small = isSmallCorpus(emb)
    val v0 = spread(emb)
      .select(col(blockCol).as("blk"), col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
    if (small)
      return directCosinePairs(v0, threshold, pairSaltBuckets, broadcastOk = true)
    // Past the cutoff, ONE light sizing pass decides the plan shape:
    // per-block row and distinct-vector counts via map-side HLL sketches
    // over 8-byte vector hashes (no vector shuffle — the exchange
    // carries one sketch per block per task; xxhash64 collisions and
    // HLL's ~2% error only perturb sizing, never results). From it: the
    // duplicate rate (collapse or not) and the largest block (adaptive
    // salt count).
    val st = v0.groupBy(col("blk"))
      .agg(count(lit(1)).as("nr"),
        approx_count_distinct(xxhash64(col("vec")), 0.02).as("nd"))
      .agg(coalesce(max("nr"), lit(0L)), coalesce(max("nd"), lit(0L)),
        coalesce(sum("nr"), lit(0L)), coalesce(sum("nd"), lit(0L))).collect()(0)
    val (maxRows, maxDistinct) = (st.getLong(0), st.getLong(1))
    val (totRows, totDistinct) = (st.getLong(2), st.getLong(3))
    // Collapse EXACT-duplicate vectors within a block before the
    // quadratic stage: pair work becomes quadratic in DISTINCT vectors
    // only — the duplicate-heavy corpora this operator exists for are
    // exactly where that matters (the sf10 stress tier, 100 copies of
    // every vector, measured 399 s pairing raw rows; the collapse pays
    // one linear groupBy shuffle to shrink the pair space 10^4x).
    // Identical arrays give bit-identical cosines, so expanding a
    // representative-level pair back to its member id pairs reproduces
    // the raw pairing EXACTLY (spec-pinned equal to the direct join).
    // BUT when the corpus is mostly-distinct the collapse pass buys
    // nothing and costs a full vector shuffle + cache — the r11 sf0.1
    // regression — so it only runs past a >10% duplicate share (HLL
    // margin included: at 2% error a mostly-distinct corpus can't cross
    // it, and a 100x-copies one can't miss it).
    if (totDistinct * 10L >= totRows * 9L)
      directCosinePairs(v0, threshold, adaptiveSalts(maxRows))
    else collapsedCosinePairs(v0, threshold, adaptiveSalts(maxDistinct))
  }

  /** Mostly-distinct path: pair raw rows directly — no collapse pass, no
    * cache; one salted self equi join on (blk, salt).
    */
  private def directCosinePairs(v0: DataFrame, threshold: Double,
                                salts: Int, broadcastOk: Boolean = false): DataFrame = {
    // staged per-row norm: one dot + one multiply per PAIR instead of
    // three dots — bit-identical to the inline cosine
    val v = v0.withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    val (xa, yb) = saltedSides(v, v, "vid", replicateX = true, salts = salts)
    // merge hint unless the corpus is footer-proven small: both sides are
    // otherwise the corpus (heavy rows — the embedding array rides the
    // join) and broadcasting one is a driver OOM at scale
    val xh = if (broadcastOk) xa.as("a") else xa.as("a").hint("merge")
    xh.join(yb.as("b"),
        col("a.blk") === col("b.blk") && col("a.sb") === col("b.sb") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        round(Similarity.dot(col("a.vec"), col("b.vec")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Duplicate-heavy path: collapse exact-duplicate vectors to one
    * representative, pair representatives, expand back to member pairs.
    */
  private def collapsedCosinePairs(v0: DataFrame, threshold: Double,
                                   salts: Int): DataFrame = {
    // Query-scoped cache + eager materialization: reps feeds THREE
    // consumers (both salted self-join sides and the self-pair branch),
    // and the join sides are separate stages that would otherwise race
    // to compute the cache — each re-running the corpus-wide
    // groupBy(blk, vec) collapse from the scan (measured: the whole r11
    // sf0.1 regression on this gate). The count() action materializes
    // the collapse ONCE; on this path it is priced against the
    // quadratic-in-duplicates work it removes.
    val reps = graft.core.CacheScope.cached(v0.groupBy(col("blk"), col("vec"))
      .agg(min(col("vid")).as("rvid"), collect_list(col("vid")).as("members"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec")))))
    reps.count()
    // Salt-split the per-block quadratic exactly as [[intraClusterDedup]]
    // does: few blocking labels = few join keys = near-serial pair stage;
    // bucketing b by hash(rvid) and replicating a to all S buckets splits
    // each block's pair work S ways with identical output. S scales with
    // the largest block ([[adaptiveSalts]]) — blocking keys the caller
    // cannot refine (a coarse label column) must not serialize the stage.
    val (xa, yb) = saltedSides(reps, reps, "rvid", replicateX = true,
      salts = salts)
    val crossRep = xa.as("a").hint("merge").join(yb.as("b"),
        col("a.blk") === col("b.blk") && col("a.sb") === col("b.sb") &&
          col("a.rvid") < col("b.rvid"))
      .select(col("a.members").as("ma"), col("b.members").as("mb"),
        round(Similarity.dot(col("a.vec"), col("b.vec")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
    // distinct-vector pairs expand to all member cross pairs (the cosine
    // is the same double for every copy); ids are globally distinct, so
    // least/greatest reproduces the vid_a < vid_b orientation
    val cross = crossRep
      .select(explode(col("ma")).as("ia"), col("mb"), col("cosine"))
      .select(col("ia"), explode(col("mb")).as("ib"), col("cosine"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
    // copies of ONE vector pair among themselves iff their self-cosine
    // passes (the same 0/0 => NaN => drop edge the raw join has for
    // zero vectors)
    val self = reps.filter(size(col("members")) > 1)
      .withColumn("cosine",
        round(Similarity.dot(col("vec"), col("vec")) /
          (col("nrm") * col("nrm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("members"), col("cosine"))
      .select(explode(col("members")).as("ia"), col("members"), col("cosine"))
      .select(col("ia"), explode(col("members")).as("ib"), col("cosine"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("cosine"))
    cross.unionByName(self)
  }

  /** Bucket count for salt-splitting the quadratic pair joins: enough to
    * spread a handful of blocks/clusters across every core, small enough
    * that the linear replication cost stays negligible next to the
    * quadratic work it parallelizes.
    */
  private val pairSaltBuckets = 8

  /** Corpus size below which [[embeddingCosinePairs]] runs the direct
    * pair join with fixed salts and NO sizing pass: 16384^2/2 ~ 1.3e8
    * pair evals bounds the degenerate single-block worst case at
    * sub-second work, so any plan-construction job would cost more than
    * the mis-sizing it prevents.
    */
  private val directPairCutoff = 16384L

  /** Partition count for corpus-scale shuffles: never below the cluster's
    * total parallelism, whatever spark.sql.shuffle.partitions is tuned to
    * for dimension-sized shuffles — a session pinned to few partitions
    * must not starve the CPU-heavy shingle joins at the 100x tier
    * (measured: 12 of 32 effective cores; containment 46 -> 33 s at
    * sf10). But when the parquet footers prove the doc corpus small
    * (zero jobs), the session setting stands: below the cutoff the extra
    * tasks are pure per-task overhead (measured: dedup_containment
    * +0.12 s at sf0.1 under the unconditional widening).
    */
  private val wideCorpusCutoff = 100000L
  private def wideShufflePartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    val session = spark.sessionState.conf.numShufflePartitions
    if (graft.core.RowCounts.upperBound(df).exists(_ <= wideCorpusCutoff)) session
    else math.max(session, spark.sparkContext.defaultParallelism)
  }

  // ---------------------------------------------------------------- simhash

  /** 60-bit engine-reproducible token hash: the top 15 hex digits of
    * md5, so an external engine (the DuckDB oracle) can recompute the
    * identical fingerprints — xxhash64 is Spark-only. Positive by
    * construction (< 2^60).
    */
  def md5Hash60(c: Column): Column =
    org.apache.spark.sql.GraftBridge.md5Hash60(c)

  /** 60-bit SimHash fingerprint per document from md5-derived token hashes:
    * bit j of the fingerprint is 1 iff sum over distinct tokens of
    * (2*bit_j(h)-1) > 0.
    *
    * Shape: explode tokens -> one hash per row -> groupBy(doc) with the
    * one-buffer sum aggregator -> fingerprint assembly from the sums.
    * (A nested higher-order-function formulation generates a pathological
    * whole-stage-codegen method; 60 separate sum() columns compile but pay
    * heavy per-row aggregate dispatch.)
    */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 60): DataFrame =
    // one fused map pass (SimHashFp): tokenize -> distinct -> md5-60bit
    // -> per-bit sums -> assembly, bit-identical to the old
    // explode/aggregate chain with no shuffle at any scale. Token-less
    // docs fingerprint to NULL and are dropped here, exactly as the old
    // chain dropped them (no tokens -> no aggregation group) — otherwise
    // every pair of empty docs would surface as a hamming-0 clique.
    spread(df).select(col(idCol).as("doc"),
      org.apache.spark.sql.GraftBridge.simHashFp(lower(col(textCol)), bits)
        .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs: candidate generation by exact-match on quarter
    * fingerprint chunks (any pair within hamming distance <= 3 shares at
    * least one of 4 chunks — pigeonhole), verified by full hamming distance.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val fps = graft.core.CacheScope.cached(simhash(df, textCol, idCol))
    // candidate generation runs on DISTINCT fingerprints, not docs:
    // template-heavy corpora concentrate many docs onto few fingerprints,
    // and chunk-bucket collisions grow quadratically in bucket occupancy —
    // deduping first cuts the join fanout by the square of the average
    // group size, and identical-fp doc pairs (hamming 0) come from a
    // cheap equi self-join instead of 4 chunk collisions each. The
    // verified fp-pair set then expands back to doc pairs through two
    // equi joins on the fingerprint (each doc has exactly one fp, so the
    // expansion cannot duplicate a pair and needs no distinct).
    val ufp = graft.core.CacheScope.cached(fps.select(col("simhash")).distinct())
    val chunks = ufp.select(col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFF).as("v"))): _*)).as("ck"))
    // hamming rides the join output (codegen'd two-long bit_count) and
    // filters BEFORE the distinct, so the aggregation sees only verified
    // fp pairs, never the full collision fanout
    // merge hints on every join below: distinct fingerprints approach doc
    // count on diverse corpora, so chunks/fps frames are all
    // corpus-proportional and fpPairs is result-proportional — no
    // broadcastable dimension anywhere (see minhashLshPairs)
    val fpPairs = chunks.as("x").hint("merge").join(chunks.as("y"),
        col("x.ck.c") === col("y.ck.c") && col("x.ck.v") === col("y.ck.v") &&
          col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("fp_a"), col("y.simhash").as("fp_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // hamming-0 doc pairs (same fingerprint) ride the SAME two expansion
    // joins as the cross pairs (r18): each distinct fingerprint
    // contributes its IDENTITY pair (fp, fp, 0), whose expansion is the
    // full doc cross product of that fingerprint's group — filtered to
    // _da < _db so every unordered pair survives exactly once. This
    // replaces the separate fps-self-join stage (one SortMergeJoin, one
    // Exchange + two Sorts of the corpus-proportional fingerprint frame)
    // with |distinct fps| extra rows through joins that already exist.
    // For cross rows (fp_a < fp_b) the _da < _db filter must NOT apply —
    // each such doc pair appears once in arbitrary order and is
    // canonicalized by least/greatest, exactly as before.
    val allFpPairs = fpPairs.unionByName(
      ufp.select(col("simhash").as("fp_a"), col("simhash").as("fp_b"),
        bit_count(lit(0L)).as("hamming")))
    allFpPairs.hint("merge")
      .join(fps.select(col("simhash").as("fp_a"), col("doc").as("_da")), "fp_a")
      .hint("merge")
      .join(fps.select(col("simhash").as("fp_b"), col("doc").as("_db")), "fp_b")
      .filter(col("fp_a") =!= col("fp_b") || col("_da") < col("_db"))
      .select(least(col("_da"), col("_db")).as("doc_a"),
        greatest(col("_da"), col("_db")).as("doc_b"), col("hamming"))
  }

  // --------------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): partition the
    * embedding space into clusters, then look for near-duplicates ONLY
    * within a cluster. The cluster id plays the role the blocking label
    * plays in [[embeddingCosinePairs]], but it comes from the geometry
    * itself (nearest seed/centroid) instead of an external label column —
    * so the operator works on unlabeled corpora, which is the common case.
    *
    * Output: one row per vector — (id, cluster, keep) where keep = 0 iff
    * some LOWER-RANKED member of the same cluster has rounded cosine >=
    * `threshold`. The survivor rank on this overload is the id itself
    * (min-id keeper — the same deterministic rule the exact-dedup family
    * uses); the paper's keep-the-centroid-farthest rule is available on
    * the trained path via [[semanticDedupKMeans]]'s `keepFarthest`.
    *
    * This overload assigns each vector to the nearest of k FIXED seed
    * vectors (the embeddings of the k smallest ids) by rounded cosine,
    * ties to the smaller seed id. Assignment is a single map-side argmax
    * with no training iteration, so an external engine can replicate the
    * whole operator exactly (the DuckDB oracle gate does). Production
    * entry point: [[semanticDedupKMeans]], which trains real centroids.
    *
    * Scale shape: seeds are k rows (collect + broadcast — the IVF centroid
    * pattern; dimension-sized, never corpus-sized); assignment is one
    * map-side pass over the corpus; the only shuffle is the within-cluster
    * self equi join, whose cost is QUADRATIC IN CLUSTER SIZE — k is the
    * scale knob (the paper runs ~100k clusters at web scale precisely so
    * blocks stay tiny). `k <= 0` (the default) sizes it as sqrt(n) via
    * [[Similarity.autoCells]]: a FIXED k makes total pair cost
    * k * (n/k)^2 = n^2/k — quadratic in corpus growth (the sf10 stress
    * tier measured the k=32 gate at 97 s vs ~7 s auto-sized), while
    * sqrt-k balances assignment (n * k * d) against pair volume (n^1.5),
    * the same trade [[Similarity.autoCells]] prices for IVF. Same
    * merge-hint rationale as [[embeddingCosinePairs]]: both join sides
    * are corpus-proportional with heavy array payloads — broadcasting
    * one is a driver OOM class.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 0, threshold: Double = 0.35): DataFrame = {
    // footer-metadata count when the corpus is a bare parquet scan (the
    // normal case) — sizing must not cost a scan job before the real work
    val kk = if (k > 0) k else Similarity.autoCells(graft.core.RowCounts.of(emb))
    semanticDedupWithSeeds(emb, idCol, vecCol,
      collectSeeds(prepVecs(emb, idCol, vecCol), kk), threshold)
  }

  /** [[semanticDedup]] against a PRECOMPUTED seed set — the epoch
    * lifecycle: seeds (the frozen cluster centers) are a pure function
    * of the corpus, computed once per corpus epoch and reused by every
    * consumer ([[semanticDedupIncremental]] already freezes them across
    * batches; a serving layer holds them like any ANN centroid table).
    * Small corpora additionally skip the assignment cache: recomputing a
    * sub-[[directPairCutoff]] assignment for each pair-join side is
    * cheaper than materializing it.
    */
  def semanticDedupWithSeeds(emb: DataFrame, idCol: String, vecCol: String,
                             seeds: Array[(Long, Array[Double])],
                             threshold: Double): DataFrame = {
    val small = isSmallCorpus(emb)
    intraClusterDedup(
      assignToSeeds(prepVecs(emb, idCol, vecCol), seeds)
        .withColumn("rank", col("vid")),
      threshold, idCol, cache = !small)
  }

  /** Footer-proven-small input (zero jobs to decide; see
    * [[graft.core.RowCounts.upperBound]]): below [[directPairCutoff]]
    * rows the scale machinery — widening Exchange, scoped cache, forced
    * merge joins — costs more stage floors than the work it organizes,
    * so the small path drops all three. Unknown size = NOT small (the
    * scale-safe default).
    */
  private def isSmallCorpus(dfs: DataFrame*): Boolean = {
    val bounds = dfs.map(graft.core.RowCounts.upperBound)
    bounds.forall(_.isDefined) && bounds.flatten.sum <= directPairCutoff
  }

  /** Fixed-seed cluster assignment: each vector goes to the nearest of the
    * k seed vectors (the embeddings of the k smallest ids) by ROUNDED
    * cosine, ties to the smaller seed id — argmax over struct(cos, -sid):
    * max cosine wins; on a rounded-cosine tie the LARGER -sid (= smaller
    * seed id) wins, the deterministic order an external engine reproduces
    * with ORDER BY cos DESC, sid. Returns (vid, vec, cluster, ccos) where
    * ccos is the winning cosine (prototypicality to the cluster center).
    *
    * One map-side argmax over collected+broadcast seeds (k rows,
    * dimension-sized — the IVF centroid pattern). The geometry-derived
    * blocking both [[semanticDedup]] and [[Sampling.prototypePrune]]
    * build on.
    */
  private[operators] def seedAssign(emb: DataFrame, idCol: String,
                                    vecCol: String, k: Int): DataFrame = {
    val v = prepVecs(emb, idCol, vecCol)
    assignToSeeds(v, collectSeeds(v, k))
  }

  private[graft] def prepVecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    spread(emb).select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))

  private[graft] def collectSeeds(v: DataFrame, k: Int): Array[(Long, Array[Double])] =
    v.orderBy("vid").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private[graft] def assignToSeeds(v: DataFrame,
                            seeds: Array[(Long, Array[Double])]): DataFrame = {
    // fused native argmax (NearestSeed): the composable array-of-structs
    // + array_max formulation paid ~0.9 ms/row of literal-array and
    // struct-ordering overhead — ~100x the k·d multiply-adds. Identical
    // semantics (rounded cosine, staged norms, smaller-seed-id ties),
    // pinned by the OperatorsSpec local-reference test and the oracle
    // gates at three tiers.
    // assertNotNull: the argmax is total for any non-null vector, and
    // `cluster` becomes a JOIN KEY downstream — without the non-null
    // mark, constraint inference pushes an isnotnull(cluster) filter
    // BELOW this projection, re-evaluating the whole k*d argmax once
    // more per row per join side. A NULL vector in a dedup corpus is
    // malformed input and now fails loudly here instead of being
    // silently dropped by those inferred filters.
    v.withColumn("_best", org.apache.spark.sql.GraftBridge.assertNotNull(
        org.apache.spark.sql.GraftBridge.nearestSeed(
          col("vec"), seeds.map(_._1), seeds.map(_._2))))
      .select(col("vid"), col("vec"),
        col("_best.cluster").as("cluster"), col("_best.ccos").as("ccos"))
  }

  /** [[semanticDedup]] with trained centroids — the production SemDeDup:
    * an MLlib k-means (fixed seed, so reruns agree) quantizes the corpus,
    * assignment is the map-side nearest-centroid argmax (score
    * 2*c·x − ||c||², monotone in negative squared distance — the IVF
    * scoring), and the within-cluster pass is shared with the seed
    * variant.
    *
    * `keepFarthest = true` switches the survivor rule to the paper's:
    * within a duplicate neighborhood keep the member with the LOWEST
    * cosine to its centroid (the cluster-typical examples are the
    * redundant ones; the outlier carries the information), ties broken by
    * id. `false` keeps the min-id member — the rule an exact oracle can
    * express cheaply.
    *
    * Centroid training cost is one k-means job (sampled/few iterations);
    * at 100 TB train on a sample and assign the full corpus map-side —
    * assignment never shuffles.
    */
  /** Fixed-seed k-means centroids over prepped vectors (vid, vec) — the
    * trained-quantizer arm shared by [[semanticDedupKMeans]] and the
    * scale-stress census (which measures the production path's cluster
    * balance, not the min-id seed fixture's).
    */
  private[graft] def trainCenters(v: DataFrame, k: Int,
                                  seed: Long = 42): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    new KMeans().setK(k).setMaxIter(5).setSeed(seed)
      .setFeaturesCol("features")
      .fit(v.withColumn("features", array_to_vector(col("vec"))))
      .clusterCenters.map(_.toArray)
  }

  /** Map-side nearest-centroid assignment of prepped vectors — the fused
    * native argmax (NearestCenter); adds `cluster` and keeps `_best`
    * (cell + cosine-to-centroid) for rank construction.
    */
  private[graft] def assignToCenters(v: DataFrame,
                                     centers: Array[Array[Double]]): DataFrame =
    v.withColumn("_best",
        org.apache.spark.sql.GraftBridge.nearestCenter(col("vec"), centers))
      .withColumn("cluster", col("_best.cell"))

  def semanticDedupKMeans(emb: DataFrame, idCol: String, vecCol: String,
                          nClusters: Int = 16, threshold: Double = 0.35,
                          keepFarthest: Boolean = false,
                          seed: Long = 42): DataFrame = {
    val v = spread(emb).select(col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("vec")).cache()
    val centers = trainCenters(v, nClusters, seed)
    // fused native nearest-centroid (NearestCenter) — same ~100x
    // literal-array/struct-ordering overhead class NearestSeed removes
    val assigned = assignToCenters(v, centers)
    val ranked =
      if (!keepFarthest) assigned.withColumn("rank", struct(col("vid")))
      else
        // rank = (cosine to own centroid, id): the EXISTS join keeps the
        // lexicographic minimum, i.e. the centroid-farthest member.
        assigned.withColumn("rank",
          struct(col("_best.ccos").as("ccos"), col("vid").as("vid")))
    val out = intraClusterDedup(ranked, threshold, idCol)
    v.unpersist()
    out
  }

  /** Shared within-cluster pass: a member is a duplicate iff some
    * lower-`rank` member of its cluster has rounded cosine >= threshold.
    * One equi-join shuffle on the cluster key; quadratic in cluster size
    * (the caller's clustering granularity bounds it).
    */
  private def intraClusterDedup(assigned: DataFrame, threshold: Double,
                                idCol: String, cache: Boolean = true): DataFrame = {
    // norms staged per ROW, not per pair: the pair filter then costs one
    // dot + one multiply instead of three dots — 3x less work on the
    // quadratic step, bit-identical to the inline cosine (sqrt(dot(v,v))
    // is the same double wherever it's evaluated).
    // Query-scoped cache: the assigned frame feeds BOTH pair-join sides
    // and the final keep-flag join — without it each consumer re-derives
    // the full cluster-assignment chain from the scan (the k-seed /
    // k-centroid argmax per row, on the exploded side k*S times), which
    // measured as the dominant cost at the sf1 tier (~200 s of task time
    // against ~30 s of actual pair work). `cache = false` for corpora
    // small enough that re-deriving beats cache churn (the caller sizes).
    val prepped = assigned.select(col("cluster"), col("vid"), col("vec"), col("rank"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    val a = if (cache) graft.core.CacheScope.cached(prepped) else prepped
    val dups = pairDups(a, a, threshold, useRank = true, replicateX = true,
      broadcastOk = !cache)
    // small path: the dup-id set is at most corpus-sized and the corpus
    // is proven small — broadcast it instead of sort-merging both sides
    val dupsH = if (cache) dups else dups.hint("broadcast")
    a.join(dupsH.withColumn("_dup", lit(true)), Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cluster"),
        when(col("_dup").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** y-side vids with a qualifying x-side neighbor: same cluster, rounded
    * cosine >= threshold, and (when `useRank`) x.rank < y.rank. Both
    * inputs need (cluster, vid, vec, nrm) (+ rank when used).
    *
    * Salt-split: with only k clusters, a plain equi join caps pair-stage
    * parallelism at k partitions — at k=32 on 32 cores the wall was
    * near-serial (10 s for 6.5M pairs at the sf1 tier). Bucket one side
    * by hash(vid), replicate the other to all S buckets: every (x, y)
    * pair still meets exactly once (the bucketed side's bucket is
    * deterministic), the join key becomes (cluster, bucket) = k*S groups,
    * and each cluster's pair work splits S ways. `replicateX` picks which
    * side pays the linear S-times replication — the SMALLER side (the
    * batch in the incremental pass; either for a self join) — priced
    * against the quadratic it parallelizes. Output is IDENTICAL (salt
    * only changes distribution), so oracles are untouched.
    *
    * The threshold predicate sits INSIDE the join condition, not a filter
    * above it: the join's output needs only y.vid, so failing pairs are
    * rejected on the joined-row view without ever materializing an output
    * row carrying the two vector arrays.
    */
  /** The two sides of a salt-split pair join, each with its `sb` bucket
    * column: the NON-replicated side buckets deterministically by
    * hash(id) so every pair meets in exactly one bucket; the replicated
    * side fans out to all S buckets. Shared by [[pairDups]] and
    * [[embeddingCosinePairs]] — the exactly-once-pair argument lives here
    * only.
    */
  private def saltedSides(x0: DataFrame, y0: DataFrame, idColName: String,
                          replicateX: Boolean,
                          salts: Int = pairSaltBuckets): (DataFrame, DataFrame) = {
    val rep = explode(array((0 until salts).map(lit): _*))
    val bucket = pmod(hash(col(idColName)), lit(salts))
    if (replicateX) (x0.withColumn("sb", rep), y0.withColumn("sb", bucket))
    else (x0.withColumn("sb", bucket), y0.withColumn("sb", rep))
  }

  /** Salt count sized to the LARGEST block: per-(block, salt) pair work
    * is blockRows * (blockRows / S) / 2, so S = blockRows^2 / (2 * P)
    * holds the heaviest cell near P pairs regardless of corpus growth —
    * with the fixed floor, a handful of coarse blocks at 100x the rows
    * serialized the whole pair stage on a few cells (the sf10 stress
    * tier measured 8 effective cores of 32 on dedup_embedding_cosine).
    * The replication cost is linear (n * S rows) and stays negligible
    * next to the quadratic work it spreads; the cap bounds it.
    */
  private def adaptiveSalts(maxBlockRows: Long): Int = {
    val targetPairsPerCell = 2000000L
    math.max(pairSaltBuckets.toLong,
      math.min(1024L, maxBlockRows * maxBlockRows / (2 * targetPairsPerCell))).toInt
  }

  private def pairDups(x0: DataFrame, y0: DataFrame, threshold: Double,
                       useRank: Boolean, replicateX: Boolean,
                       broadcastOk: Boolean = false): DataFrame = {
    val (x, y) = saltedSides(x0, y0, "vid", replicateX)
    val base = col("x.cluster") === col("y.cluster") && col("x.sb") === col("y.sb") &&
      round(Similarity.dot(col("x.vec"), col("y.vec")) /
        (col("x.nrm") * col("y.nrm")), 6) >= threshold
    val cond = if (useRank) base && col("x.rank") < col("y.rank") else base
    // merge hint unless the caller PROVED the sides are small
    // (footer-counted corpus under the direct cutoff): both sides are
    // otherwise corpus-proportional with heavy array payloads, and
    // broadcasting one is a driver OOM class. When small, the planner's
    // size-based broadcast turns the whole chain into hash joins — the
    // stage-count floor, not pair work, dominates there.
    val xh = if (broadcastOk) x.as("x") else x.as("x").hint("merge")
    xh.join(y.as("y"), cond)
      .select(col("y.vid").as("vid")).distinct()
  }

  /** Incremental SemDeDup — dedup an arriving batch against an already-
    * curated corpus, the ingest-epoch lifecycle of
    * [[incrementalNearDups]]: a batch vector is dropped when a
    * same-cluster CORPUS vector is within `threshold` cosine (it adds
    * nothing the corpus doesn't have), or when a same-cluster
    * LOWER-ID batch sibling is (in-batch dedup, min-id keeper). Corpus
    * rows are never re-judged — output is one (id, cluster, keep) row
    * per BATCH vector.
    *
    * Cluster centers come from the CORPUS (the embeddings of its k
    * smallest ids), so assignment is stable across batches — the
    * saved-centroid epoch lifecycle: at scale the corpus-side
    * assignment is computed once per epoch and reused by every batch,
    * exactly as [[buildNearDupIndex]] amortizes its signature pass
    * (swap in trained k-means centers as [[semanticDedupKMeans]] does).
    *
    * Scale shape: both assignments are map-side (broadcast seeds); the
    * batch↔corpus pass buckets the CORPUS side and replicates the small
    * batch side (the corpus — TBs — is never replicated); the batch↔batch
    * pass is the standard salted self join. Batch-side frames are
    * query-scoped cached.
    */
  def semanticDedupIncremental(batch: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String,
                               k: Int = 32, threshold: Double = 0.35): DataFrame = {
    // small path (footer-proven, zero jobs): skip the widening Exchange,
    // the batch-side scoped cache, and the merge-join hints — at a few
    // thousand vectors the stage floors they add exceed the work
    val small = isSmallCorpus(batch, corpus)
    val vC = prepVecs(corpus, idCol, vecCol)
    val seeds = collectSeeds(vC, k)
    val aC = assignToSeeds(vC, seeds)
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    val aB0 = assignToSeeds(prepVecs(batch, idCol, vecCol), seeds)
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .withColumn("rank", col("vid"))
    val aB = if (small) aB0 else graft.core.CacheScope.cached(aB0)
    val vsCorpus = pairDups(aC, aB, threshold, useRank = false, replicateX = false,
      broadcastOk = small)
    val inBatch = pairDups(aB, aB, threshold, useRank = true, replicateX = true,
      broadcastOk = small)
    val dups = vsCorpus.unionByName(inBatch).distinct()
    val dupsH = if (small) dups.hint("broadcast") else dups
    aB.join(dupsH.withColumn("_dup", lit(true)), Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cluster"),
        when(col("_dup").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }
}
