package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `rand()`-based sampling is irreproducible across runs/engines; hashing
  * a stable key gives the same sample everywhere — the property that
  * makes train/validation splits and downsampling auditable. The hash is
  * md5-derived so any engine can recompute membership.
  *
  * Scale shape: a map-side filter — no shuffle, no state; composes with
  * partition pruning.
  */
object Sampling {

  /** Stable bucket in [0, buckets) for a key column — the first 60 md5
    * bits mod `buckets`, via the fused native hash (bit-identical to
    * `pmod(conv(substring(md5(key), 1, 15), 16, 10)::long, buckets)`,
    * which is what every oracle recomputes, without the 32-char hex
    * string + decimal radix parse per row — see
    * [[graft.functions.Md5Hash60]]).
    */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(org.apache.spark.sql.GraftBridge.md5Hash60(key.cast("string")),
      lit(buckets))

  /** Keep rows whose key hashes into [0, keep) of [0, buckets): a
    * deterministic keep-rate of keep/buckets, uniform per stratum when
    * the key is uniform within strata.
    */
  def deterministicSample(df: DataFrame, keyCol: String,
                          keep: Int, buckets: Int): DataFrame = {
    require(keep >= 0 && keep <= buckets && buckets > 0)
    df.filter(hashBucket(col(keyCol), buckets) < keep)
  }

  /** Stratified deterministic sampling: each stratum keeps its own
    * rate (keep(stratum)/buckets of rows, by the same stable key hash),
    * unlisted strata keep `defaultKeep`/buckets. This is the
    * domain-mixing primitive of corpus construction — e.g. keep 100% of
    * books, 10% of web crawl, 1% of logs — done as ONE deterministic
    * map-side filter: no shuffle, no per-stratum jobs, reproducible
    * membership any engine can recompute.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       keep: Map[String, Int], defaultKeep: Int,
                       buckets: Int): DataFrame = {
    require(buckets > 0 && (keep.values ++ Seq(defaultKeep)).forall(k => k >= 0 && k <= buckets))
    val rate = keep.foldLeft(lit(defaultKeep)) { case (acc, (s, k)) =>
      when(col(strataCol) === s, lit(k)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), buckets) < rate)
  }

  /** Train/validation/test split labels from the same stable hash —
    * fractions in per-mille to stay integer-exact.
    */
  def splitLabel(key: Column, trainPerMille: Int, validPerMille: Int): Column = {
    val b = hashBucket(key, 1000)
    when(b < trainPerMille, "train")
      .when(b < trainPerMille + validPerMille, "valid")
      .otherwise("test")
  }

  /** Deterministic training order: assign every row a shard and a position
    * within that shard, seeded so re-runs (and other engines) produce the
    * identical order. This is how a corpus is laid out for training — N
    * shard files, shuffled within and across shards — without ever doing a
    * GLOBAL sort: the only shuffle is the repartition-by-shard, and each
    * shard sorts independently (bounded by shard size, parallel across
    * executors). Consumers read shards round-robin for an unbiased stream.
    *
    * The sort key is md5(seed || key): uniform, stable, engine-recomputable
    * (md5-derived like [[hashBucket]]); `key` tie-breaks exact hash
    * collisions so the order is total.
    */
  /** Frequency cap: keep at most k rows per group, chosen
    * deterministically by seeded hash order (md5(seed:key), key as
    * tie-break — same stable key family as [[trainOrder]]). The
    * anti-over-representation primitive: cap any one domain/source/site
    * so head-heavy crawls don't dominate the mixture. One shuffle on the
    * group key; the per-group sort is bounded by group size, and the
    * heavy groups are exactly the ones being capped.
    */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int, seed: String): DataFrame = {
    require(k > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_skey"), col(keyCol))
    df.withColumn("_skey",
        md5(concat(lit(seed), lit(":"), col(keyCol).cast("string"))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_skey", "_rk")
  }

  /** Temperature-weighted mixture resampling — the data-recipe
    * reweighting step of corpus construction: source s with n_s rows
    * gets target share ∝ n_s^T, so T=1 keeps the natural mixture, T=0
    * forces uniform shares, and 0<T<1 upweights tail sources at the
    * expense of the head (the standard multilingual/multi-domain
    * re-balancing). Each source is then DOWNSAMPLED deterministically
    * (seeded hash-rank, same stable md5 family as [[capPerGroup]]) to
    * `min(n_s, floor(targetRows * share_s))` rows — never upsampled, so
    * the result is a subset and Σ quotas <= targetRows by flooring.
    *
    * Reproducibility: the share is rounded to 9 decimal digits and the
    * quota computed in exact decimal arithmetic, so the only
    * engine-floating-point steps (pow, one divide) would have to differ
    * by ~1e-7 relative before a quota moves — membership is recomputable
    * by any engine (the oracle recomputes it in SQL).
    *
    * Scale shape: source counts are a dimension-sized aggregate whose
    * quota frame broadcast-joins back; ranking is one shuffle on the
    * source key with per-source bounded sorts (the head sources being
    * ranked are exactly the ones being cut). No driver-side state.
    */
  def mixtureResample(df: DataFrame, strataCol: String, keyCol: String,
                      temperature: Double, targetRows: Long, seed: String): DataFrame = {
    // T <= 10 keeps pow(n, T) finite for any long-sized count
    // (10 * log10(9.2e18) ≈ 190 << 308): past that, a head source's
    // weight overflows to Infinity, shares go NaN/0, and the operator
    // would silently return an empty frame instead of failing here
    require(temperature >= 0.0 && temperature <= 10.0 && targetRows > 0)
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_n"))
    val weighted = counts.withColumn("_w",
      pow(col("_n").cast("double"), lit(temperature)))
    val quotas = weighted
      .crossJoin(weighted.agg(sum(col("_w")).as("_wsum"))) // scalar broadcast
      .withColumn("_share",
        round(col("_w") / col("_wsum"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(12, 9)))
      .withColumn("_quota",
        least(col("_n"), floor(lit(targetRows) * col("_share")).cast("long")))
      .select(col(strataCol), col("_quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("_skey"), col(keyCol))
    df.withColumn("_skey",
        md5(concat(lit(seed), lit(":"), col(keyCol).cast("string"))))
      .withColumn("_rk", row_number().over(w))
      .join(broadcast(quotas), strataCol)
      .filter(col("_rk") <= col("_quota"))
      .drop("_skey", "_rk", "_quota")
  }

  def trainOrder(df: DataFrame, keyCol: String, seed: String,
                 shards: Int): DataFrame = {
    require(shards > 0)
    // Stage the hash as an attribute before deriving from it: projecting
    // shard off the raw md5 expression would re-evaluate the hash per
    // reference after CollapseProject (NOTES finding).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("skey"), col(keyCol))
    df.withColumn("skey", md5(concat(lit(seed), lit(":"), col(keyCol).cast("string"))))
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 15), 16, 10).cast("long"), lit(shards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("skey")
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): score each RAW
    * document by how much more likely its hashed n-gram features are
    * under the TARGET corpus's feature distribution than under the raw
    * corpus's own — log w(x) = Σ_f [ln p_target(b(f)) − ln p_raw(b(f))]
    * over the doc's unigram+bigram features hashed into `buckets`
    * (Laplace-smoothed bucket models) — and keep the top `keepFraction`
    * by (weight, id). The hash is the same md5 bucket the deterministic
    * samplers use, so an external engine replicates the whole operator.
    *
    * Output (one row per RAW doc that yields at least one feature):
    * (id, n_feats, log_weight, keep). A raw doc whose text tokenizes to
    * nothing (empty/whitespace-only) has no features to weigh and is
    * absent from the output — the oracle SQL drops it identically.
    *
    * Scale shape: BOTH corpora ride one tagged-union featurize pass
    * through the fused [[graft.functions.NgramBucketCounts]] native
    * expression — tokenize, unigrams + bigrams, md5-60 bucket, and the
    * per-(doc, bucket) counts all land in-row as one small array per
    * doc, so the dominant cost (featurizing) is a pure codegen'd map
    * with NO per-feature explode and NO (doc, bucket) shuffle at all.
    * That per-doc frame is cached once; the two B-sized bucket models
    * and their totals come back in ONE collected action (≤ 2B rows
    * after a bucket-keyed partial aggregate), the log-ratio table is
    * computed driver-side and folded back in as ONE array literal, and
    * scoring is then a second pure map over the cached arrays — zero
    * shuffles between the corpus scan and the ranking step. The
    * top-fraction cut is the exact K-th rank KEY (weight desc, id — a
    * unique key, so rank <= K is a pure threshold compare) found via a
    * bounded weight histogram + one threshold-bin collect, making keep a
    * map-side flag with NO corpus exchange at all; a pathological tie
    * mass in the threshold bin falls back to the sharded-prefix-sum
    * exact rank (range partition on the key, in-plan shard offsets,
    * shard-local window), which stays output-identical by spec.
    */
  def importanceResample(raw: DataFrame, target: DataFrame,
                         textCol: String, idCol: String,
                         buckets: Int = 1024,
                         keepFraction: Double = 0.25): DataFrame =
    importanceResample(raw, target, textCol, idCol, buckets, keepFraction,
      HistBinCollectMax)

  /** [[importanceResample]] with an explicit threshold-bin collect bound
    * (specs pass 0 to force the exact-rank fallback).
    */
  private[graft] def importanceResample(raw: DataFrame, target: DataFrame,
                                        textCol: String, idCol: String,
                                        buckets: Int, keepFraction: Double,
                                        histBinCollectMax: Long): DataFrame = {
    require(buckets > 0 && keepFraction > 0 && keepFraction <= 1)
    val spark = raw.sparkSession
    import spark.implicits._
    // one fused featurize pass per corpus row: (side, doc, [(b, n)...]),
    // featureless docs dropped (they have no weight and no output row —
    // the oracle drops them identically)
    def tagged(df: DataFrame, side: String): DataFrame =
      graft.core.Spread.ensureParallel(df)
        .select(lit(side).as("_side"), col(idCol).as("doc"),
          org.apache.spark.sql.GraftBridge
            .ngramBucketCounts(lower(col(textCol)), buckets).as("_bc"))
        .filter(size(col("_bc")) > 0)
    val bc = graft.core.CacheScope.cached(
      tagged(raw, "r").unionByName(tagged(target, "t")))
    // both bucket models + totals in one bounded collect (≤ 2B rows of
    // (side, bucket, count) — map-side partial aggregation shrinks the
    // shuffle to B rows per task); fail LOUDLY on a featureless side (a
    // zero total would otherwise silently skew every weight)
    val models = bc
      .select(col("_side"), explode(col("_bc")).as("_e"))
      .groupBy(col("_side"), col("_e.b").as("b")).agg(sum(col("_e.n")).as("c"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val tTot = models.collect { case (("t", _), c) => c }.sum
    val rTot = models.collect { case (("r", _), c) => c }.sum
    require(tTot > 0 && rTot > 0,
      "importanceResample: target and raw corpora must both produce features")
    // per-bucket log ratios as ONE array literal (same IEEE arithmetic
    // as the in-plan formulation: Math.log, long+int promotion, double
    // divide — weights are bit-identical); scoring is then a pure map
    // over the cached per-doc arrays, no join, no groupBy
    val lrArr = Array.tabulate(buckets) { b =>
      val tc = models.getOrElse(("t", b.toLong), 0L)
      val rc = models.getOrElse(("r", b.toLong), 0L)
      math.log((tc + 1).toDouble / (tTot + buckets)) -
        math.log((rc + 1).toDouble / (rTot + buckets))
    }
    val scored = bc.filter(col("_side") === "r")
      .select(col("doc"),
        org.apache.spark.sql.GraftBridge.dsirScore(col("_bc"), lrArr).as("_s"))
      .select(col("doc"), col("_s.n_feats").as("n_feats"),
        round(col("_s.raw_weight"), 6).as("log_weight"))
    // Exact top-K cut WITHOUT moving the corpus (r18, guide §2.4): the
    // rank key (weight desc, doc asc) is UNIQUE per row (doc is unique),
    // so "rank <= K" is equivalent to "key <= the K-th smallest key" —
    // and that threshold key is computable from a weight histogram plus
    // one bin's keys, never a corpus-wide range exchange + per-shard
    // window sort. The weight domain is a plan-time literal interval
    // ([min, max] of the log-ratio table — a weighted mean cannot leave
    // it; round(,6) can nudge past an endpoint by <= 5e-7, clamped):
    //   1. one aggregation over the cached per-doc arrays buckets the
    //      rounded weights into 8192 bins (map-side partials; bin-count
    //      rows cross the exchange),
    //   2. the driver walks bins from the top until the cumulative count
    //      reaches K = floor(keepFraction * total) — the SAME IEEE double
    //      multiply + floor as the old in-plan formulation,
    //   3. the threshold bin's (weight, doc) keys — expected N/8192, and
    //      only ever large when weights are pathologically tied — come
    //      back in one bounded collect; the exact K-th key is selected
    //      locally under Spark's own comparison semantics (-0.0 == 0.0:
    //      weights are normalized with + 0.0 before comparing),
    //   4. keep = (w > w*) OR (w == w* AND doc <= d*) — a pure map over
    //      the cached arrays. No exchange, no sort, no second
    //      corpus-sized cache (the old `keyed` cache held every scored
    //      row a second time — real memory at the 100x tier, guide §5).
    // A threshold bin past `histBinCollectMax` (degenerate tie mass)
    // falls back to the r17 sharded-prefix-sum exact rank, which remains
    // the all-sizes-safe path and is spec-pinned output-identical.
    val histBins = 8192
    val lo = lrArr.min
    val hi = lrArr.max
    def exactRankKeep(): DataFrame = {
      val keyed = graft.core.CacheScope.cached(
        scored.withColumn("_k",
            struct((-col("log_weight")).as("nw"), col("doc").as("d")))
          .repartitionByRange(col("_k"))
          .withColumn("_pid", spark_partition_id()))
      import org.apache.spark.sql.expressions.{Window => W}
      val wOff = W.orderBy(col("_pid")).rowsBetween(W.unboundedPreceding, -1)
      val wAll = W.orderBy(col("_pid"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val offsetsDf = keyed.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
        .select(col("_pid"),
          coalesce(sum(col("_c")).over(wOff), lit(0L)).as("_off"),
          floor(lit(keepFraction) *
            sum(col("_c")).over(wAll).cast("double")).as("_kk"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_pid")).orderBy(col("_k"))
      keyed.join(broadcast(offsetsDf), Seq("_pid"))
        .withColumn("_r", row_number().over(w).cast("long") + col("_off"))
        .select(col("doc").as(idCol), col("n_feats"), col("log_weight"),
          when(col("_r") <= col("_kk"), lit(1L)).otherwise(lit(0L)).as("keep"))
    }
    // the threshold bin's keys come back as (double, long), so ids of
    // another type (strings) rank on the exact path, as does a one-point
    // weight domain
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val longIds = Seq(LongType, IntegerType, ShortType, ByteType)
      .contains(scored.schema("doc").dataType)
    if (hi <= lo || !longIds) exactRankKeep()
    else {
      // bin by rounded weight; clamp round()'s <=5e-7 endpoint spill
      val binCol = least(lit(histBins - 1), greatest(lit(0),
        floor((col("log_weight") - lit(lo)) / lit(hi - lo) * histBins)
          .cast("int")))
      val hist = scored.groupBy(binCol.as("_b")).agg(count(lit(1)).as("_c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = hist.valuesIterator.sum
      val kk = math.floor(keepFraction * total.toDouble).toLong
      if (kk <= 0L)
        scored.select(col("doc").as(idCol), col("n_feats"),
          col("log_weight"), lit(0L).as("keep"))
      else {
        // walk bins top-down (higher bin = higher weight = smaller rank
        // key) to the bin holding the K-th key
        var b = histBins - 1
        var acc = 0L
        while (acc + hist.getOrElse(b, 0L) < kk) { acc += hist.getOrElse(b, 0L); b -= 1 }
        if (hist.getOrElse(b, 0L) > histBinCollectMax) exactRankKeep()
        else {
          val need = (kk - acc).toInt // in [1, hist(b)], bounded by the guard
          val keyEnc = org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong)
          val binKeys = scored.filter(binCol === b)
            // + 0.0 turns -0.0 into +0.0, making the driver's primitive
            // double compare agree with Spark's (-0.0 == 0.0) semantics
            .select((col("log_weight") + lit(0.0)).as("w"), col("doc"))
            .as(keyEnc).collect()
          java.util.Arrays.sort(binKeys, Ordering.Tuple2(
            Ordering.Double.IeeeOrdering.reverse, Ordering.Long))
          val (wStar, dStar) = binKeys(need - 1)
          scored.select(col("doc").as(idCol), col("n_feats"),
            col("log_weight"),
            when(col("log_weight") + lit(0.0) > wStar ||
              (col("log_weight") + lit(0.0) === wStar && col("doc") <= dStar),
              lit(1L)).otherwise(lit(0L)).as("keep"))
        }
      }
    }
  }

  /** Threshold-bin collect bound for [[importanceResample]]'s histogram
    * cut: past this many rows in ONE weight bin (pathological tie mass —
    * expected occupancy is N/8192) the exact-rank fallback runs instead.
    * ~32 B/key tuple ≈ 32 MB at the bound.
    */
  private[graft] val HistBinCollectMax: Long = 1L << 20

  /** Cluster-prototypicality pruning (SSL-prototypes, Sorscher et al.
    * "Beyond neural scaling laws", 2022 — the pruning half of D4,
    * Tirumala et al. 2023): cluster the embedding space, rank each
    * cluster's members by cosine to their cluster center, and DROP the
    * top `dropFraction` most prototypical — the examples nearest the
    * center are the redundant ones; the ones far from it carry the
    * marginal information (on large corpora keeping HARD examples beats
    * random pruning).
    *
    * Output: (id, cluster, ccos, keep) — keep = 0 for the
    * floor(dropFraction * clusterSize) members with the highest rounded
    * center-cosine (ties broken by id, so the cut is deterministic).
    *
    * Uses [[Dedup.seedAssign]]'s fixed-seed clustering (k smallest ids'
    * embeddings as centers) so an external engine can replicate the whole
    * operator — swap in trained k-means centers for production exactly as
    * [[Dedup.semanticDedupKMeans]] does.
    *
    * Scale shape: map-side assignment (broadcast seeds), then ONE shuffle
    * on the cluster key for the per-cluster rank window — O(n log n) per
    * cluster, never a pair join. Cluster count k bounds the window
    * partition size.
    */
  def prototypePrune(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int = 8, dropFraction: Double = 0.25): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction < 1.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("ccos").desc, col("vid"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    Dedup.seedAssign(emb, idCol, vecCol, k)
      .withColumn("rank", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .select(col("vid").as(idCol), col("cluster"), col("ccos"),
        when(col("rank") > floor(lit(dropFraction) * col("n")), lit(1L))
          .otherwise(lit(0L)).as("keep"))
  }
}
