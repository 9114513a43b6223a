package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus distribution statistics for training-data pipelines.
  *
  * Curation decisions (length cutoffs, source mixing, outlier trims) are
  * made against the corpus' own distribution, so the engine needs per-group
  * quantiles as a first-class operator.
  *
  * Two formulations:
  *  - `exactQuantiles` — `percentile(...)`: Spark aggregates a per-group
  *    value->count map and interpolates exactly (linear interpolation on the
  *    sorted values, the same definition DuckDB's `quantile_cont` uses, which
  *    is what makes the oracle gate possible). The map is proportional to the
  *    number of DISTINCT values per group — fine for bounded-cardinality
  *    metrics (lengths, token counts), not for high-cardinality doubles.
  *  - `approxQuantiles` — `approx_percentile` (KLL-style sketch, bounded
  *    memory regardless of cardinality): the 100 TB path when values are
  *    unbounded. Unit-tested against the exact form within its accuracy
  *    bound, mirroring how the HLL distinct-count operator is validated.
  *
  * Both are single-shuffle group-bys with map-side partial aggregation.
  */
object Stats {

  /** Exact per-group quantiles of a numeric column, one output row per
    * (group, probability). Output quantile is rounded to 4 decimals and
    * emitted as a string: the driver's gate hashes representations, and
    * a fixed-scale string is the only form two engines agree on.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                     probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    // Labels and values go out as fixed-scale decimal strings: the gate
    // hashes representations, and a fixed scale is the one form engines
    // agree on (same move as the decimal aggregates).
    val probLabels = array(probs.map(p => lit(f"$p%.2f")): _*)
    df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, array(${probs.mkString(",")}))").as("qs"),
        count(lit(1)).as("n"))
      .select(col(groupCol), posexplode(col("qs")).as(Seq("pos", "q")), col("n"))
      .select(col(groupCol),
        element_at(probLabels, col("pos") + 1).as("p"),
        round(col("q"), 4).cast("decimal(18,4)").cast("string").as("quantile"),
        col("n"))
  }

  /** Sketch-based per-group quantiles: bounded memory at any cardinality.
    * `accuracy` is Spark's 1/eps knob (10000 ~= 0.01% rank error).
    */
  def approxQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    df.groupBy(col(groupCol))
      .agg(expr(s"approx_percentile($valueCol, array(${probs.mkString(",")}), $accuracy)")
        .as("qs"))
      .select(col(groupCol), posexplode(col("qs")).as(Seq("pos", "q")))
      .select(col(groupCol), (col("pos") + 1).as("which"), col("q"))
  }

  /** Per-group quantiles by HISTOGRAM CENSUS + exact in-bin selection —
    * the codegen path for values with a KNOWN RANGE (parquet footer
    * min/max) and bounded per-bin distinct counts (fixed-tick decimals
    * like prices, bounded-granularity measurements). Returns the EXACT
    * k-th smallest element for k = max(1, ceil(p*n)) — rank error ZERO,
    * strictly stronger than any sketch bound.
    *
    * Cost honesty (sf10 A/B, NOTES.md round 14): this is NOT a speedup
    * over `approx_percentile` — the sketch does one pass at ~30-40
    * core-s where the census + selection's two full scans measure
    * ~130-170. Its value is EXACTNESS at scale: `exactQuantiles`'
    * value->count map explodes on high-cardinality doubles, the sketch
    * answers within a rank bound, and this returns the true k-th
    * element in two bounded-memory codegen'd scans. Reach for it when
    * the answer must be exact and the cardinality forbids `percentile`.
    *
    * Shape: (1) census — `groupBy(group, bin)` with count/min/max, pure
    * HashAggregate with map-side combine, output ≤ groups x bins rows;
    * (2) cumulative ranks + crossing-bin selection on that aggregated
    * (dimension-sized) frame; single-valued crossing bins answer
    * directly, multi-valued ones go to (3) a second scan filtered to the
    * ≤ groups x |probs| candidate bins (broadcast semi join), reduced to
    * per-(bin, value) counts map-side, and the k'-th element is picked
    * by an in-row sorted-prefix walk. Bin edges ride in as parameters —
    * derive them with [[graft.core.RowCounts.columnRange]] for a
    * zero-job footer proof, or pay one tiny min/max pre-pass.
    *
    * Contract: per-bin DISTINCT value counts must be bounded (the pass-3
    * reduction is per-bin-distinct-sized). Unbounded-cardinality doubles
    * concentrated in one bin want the sketch ([[approxQuantiles]]) or a
    * recursive re-bin; this operator targets the fixed-tick case.
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                         probs: Seq[Double], lo: Double, hi: Double,
                         bins: Int = 1 << 16): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    require(hi >= lo && bins > 0)
    import org.apache.spark.sql.expressions.Window
    val width = math.max((hi - lo) / bins, java.lang.Double.MIN_NORMAL)
    val v = col(valueCol)
    val binCol = least(lit(bins - 1), greatest(lit(0),
      floor((v - lit(lo)) / lit(width)).cast("int")))
    val census = df
      .filter(v.isNotNull)
      .groupBy(col(groupCol), binCol.as("_bin"))
      .agg(count(lit(1)).as("_c"), min(v).as("_bmn"), max(v).as("_bmx"))
    // cumulative ranks over the aggregated (≤ groups x bins) frame
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    val ranked = census
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_n", sum(col("_c")).over(wAll))
    // crossing bin per (group, prob): first bin whose cum reaches the
    // target rank k = max(1, ceil(p*n)); k' = k - rows before the bin
    val probsDf = {
      import org.apache.spark.sql.{Row => SRow}
      import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(probs.zipWithIndex.map {
          case (p, i) => SRow(i + 1, p) }: _*),
        StructType(Seq(StructField("which", IntegerType, nullable = false),
          StructField("p", DoubleType, nullable = false))))
    }
    // cached: the tiny crossing frame is read three times (direct arm,
    // pending arm, and the pending-emptiness probe) — without the cache
    // each consumer would re-run the full census scan
    val crossing = graft.core.CacheScope.cached(
      ranked.crossJoin(broadcast(probsDf))
        .withColumn("_k", greatest(lit(1L), ceil(col("p") * col("_n")).cast("long")))
        .filter(col("_cum") >= col("_k") && col("_cum") - col("_c") < col("_k"))
        .withColumn("_kp", col("_k") - (col("_cum") - col("_c"))))
    val direct = crossing.filter(col("_bmn") === col("_bmx"))
      .select(col(groupCol), col("which"), col("_bmn").as("q"))
    val pending = crossing.filter(col("_bmn") =!= col("_bmx"))
      .select(col(groupCol), col("_bin"), col("which"), col("_kp"))
    // second scan only when some crossing bin is multi-valued: reduce
    // candidate-bin rows to (value, count) map-side, then pick the k'-th
    // element with an in-row sorted-prefix walk
    val q2 =
      if (pending.isEmpty) direct
      else {
        val cand = df
          .filter(v.isNotNull)
          .withColumn("_bin", binCol)
          .join(broadcast(pending), Seq(groupCol, "_bin"))
          .groupBy(col(groupCol), col("which"), col("_kp"), v.as("_v"))
          .agg(count(lit(1)).as("_vc"))
          .groupBy(col(groupCol), col("which"), col("_kp"))
          .agg(sort_array(collect_list(struct(col("_v"), col("_vc")))).as("_vs"))
          .select(col(groupCol), col("which"),
            aggregate(col("_vs"),
              struct(lit(0L).as("c"), lit(Double.NaN).as("q"), lit(false).as("done")),
              (acc, x) => when(acc.getField("done"), acc).otherwise(
                struct((acc.getField("c") + x.getField("_vc")).as("c"),
                  x.getField("_v").as("q"),
                  (acc.getField("c") + x.getField("_vc") >= col("_kp")).as("done"))),
              acc => acc.getField("q")).as("q"))
        direct.unionByName(cand)
      }
    q2.select(col(groupCol), col("which").cast("long").as("which"), col("q"))
  }

  /** Quantile bound-check in ONE scan: the histogram census as a quantile
    * SKETCH, with the rank verification derived from the census itself
    * instead of a second full pass.
    *
    * `approxQuantiles` + a verification scan costs sketch + check
    * (~47 core-s at sf10, NOTES.md round 17); the census at 1024 bins is
    * ~10 core-s and already CONTAINS the verification: for the chosen
    * element q = max(crossing bin b*), rank_le(q) = cum(b*) exactly, and
    * rank_lt(q) is exact when the bin is single-valued (mn == mx) and
    * upper-bounded by cum(b*) - 1 otherwise — a CONSERVATIVE check (an
    * upper bound passing implies the true rank passes). The conservative
    * arm can only fail when the crossing bin holds > eps*n rows; those
    * rare (group, prob) pairs get a targeted second pass of conditional
    * sums — never the common case, and a tier either needs it always or
    * never (deterministic).
    *
    * Contract mirrors the sketch gate it replaces: one row per
    * (group, prob) with the group's total row count and a boolean
    * attesting |rank(q) - p*n| <= eps*n (+/-1 slack for ties), where n
    * counts NON-NULL values for the rank math (quantiles ignore nulls)
    * and the emitted `n` counts all rows (what a `count(*)` oracle sees).
    * A group with zero non-null values has no quantile to bound —
    * vacuously true. Bin edges ride in as parameters (footer range via
    * [[graft.core.RowCounts.columnRange]], zero jobs). Eager: collects
    * the dimension-sized census (<= groups x bins rows) on the driver,
    * like the collected-threshold form before it.
    */
  def censusQuantileBoundCheck(df: DataFrame, valueCol: String,
                               groupCol: String, probs: Seq[Double],
                               eps: Double, lo: Double, hi: Double,
                               bins: Int = 1024): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    require(hi >= lo && bins > 0 && eps > 0)
    val spark = df.sparkSession
    val width = math.max((hi - lo) / bins, java.lang.Double.MIN_NORMAL)
    val v = col(valueCol).cast("double")
    // null v -> null bin key: the null-bin row keeps the TOTAL count
    // honest while staying out of the rank walk below. The null arm must
    // be EXPLICIT — greatest/least skip null operands, so a bare
    // greatest(0, floor(null)) would silently file nulls under bin 0
    val binCol = when(v.isNull, lit(null).cast("int"))
      .otherwise(least(lit(bins - 1), greatest(lit(0),
        floor((v - lit(lo)) / lit(width)).cast("int"))))
    val censusDf = df.groupBy(col(groupCol), binCol.as("_bin"))
      .agg(count(lit(1)).as("_c"), min(v).as("_mn"), max(v).as("_mx"))
    val gType = censusDf.schema(groupCol).dataType
    val census = censusDf.collect()
    final case class Pend(g: Any, which: Int, thr: Double, rLe: Long,
                          nn: Long, nTotal: Long, p: Double)
    val done = scala.collection.mutable.ArrayBuffer[(Any, Int, Long, Boolean)]()
    val pending = scala.collection.mutable.ArrayBuffer[Pend]()
    census.groupBy(_.get(0)).foreach { case (g, rows) =>
      val nTotal = rows.map(_.getLong(2)).sum
      val binsSorted = rows.filter(!_.isNullAt(1)).sortBy(_.getInt(1))
      val nn = binsSorted.map(_.getLong(2)).sum
      probs.zipWithIndex.foreach { case (p, i) =>
        val which = i + 1
        if (nn == 0L) done += ((g, which, nTotal, true))
        else {
          val k = math.max(1L, math.ceil(p * nn).toLong)
          var cum = 0L
          var j = 0
          while (cum < k) { cum += binsSorted(j).getLong(2); j += 1 }
          val b = binsSorted(j - 1)
          val (c, mn, mx) = (b.getLong(2), b.getDouble(3), b.getDouble(4))
          val rLe = cum
          val lowOk = rLe >= (p - eps) * nn - 1
          if (mn == mx) // single-valued bin: rank_lt exact
            done += ((g, which, nTotal, lowOk && (cum - c) <= (p + eps) * nn + 1))
          else if (cum - 1 <= (p + eps) * nn + 1) // conservative upper bound
            done += ((g, which, nTotal, lowOk))
          else pending += Pend(g, which, mx, rLe, nn, nTotal, p)
        }
      }
    }
    // rare arm: exact rank_lt for the (group, prob) pairs whose crossing
    // bin was too heavy for the conservative bound — one scan of
    // |pending| conditional sums, never row-multiplied
    if (pending.nonEmpty) {
      val sums = pending.zipWithIndex.map { case (pe, idx) =>
        sum(when(col(groupCol) === lit(pe.g) && v < pe.thr, 1L)
          .otherwise(0L)).as(s"_f$idx")
      }.toSeq
      val row = df.agg(sums.head, sums.tail: _*).collect()(0)
      pending.zipWithIndex.foreach { case (pe, idx) =>
        val rLt = row.getLong(idx)
        done += ((pe.g, pe.which, pe.nTotal,
          rLt <= (pe.p + eps) * pe.nn + 1 && pe.rLe >= (pe.p - eps) * pe.nn - 1))
      }
    }
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types.{StructType, StructField, LongType, BooleanType}
    spark.createDataFrame(
      java.util.Arrays.asList(done.sortBy(r => (String.valueOf(r._1), r._2)).map {
        case (g, w, n, ok) => SRow(g, w.toLong, n, ok) }.toSeq: _*),
      StructType(Seq(StructField(groupCol, gType, nullable = true),
        StructField("which", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("within_bound", BooleanType, nullable = false))))
  }

  /** Corpus composition report: per stratum (e.g. language × source) the
    * document count, token total, share of all corpus tokens, and the
    * cumulative share in descending-size order — the table a data-mixing
    * decision ("cap source X", "upsample language Y") reads first.
    *
    * One shuffle (the groupBy); the two windows that follow run over the
    * AGGREGATED frame, whose cardinality is the number of strata —
    * dimension-sized at any input scale, so the unpartitioned window is
    * safe here (unlike over raw rows; cf. packByTokenBudget's sharding).
    */
  def corpusMixture(docs: DataFrame, strata: Seq[String],
                    textCol: String = "text"): DataFrame = {
    require(strata.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val ord = col("n_tokens").desc +: strata.map(col)
    // These windows run UNPARTITIONED on purpose: the frame below them is
    // the aggregated strata table (dimension-sized at any input scale),
    // so single-partition execution is the correct plan. A constant
    // partition key would silence WindowExec's WARN, but Spark 4's
    // EliminateWindowPartitions optimizer rule strips foldable partition
    // expressions back out (verified: the lit-keyed form plans
    // identically and still warns) — the mains scope the logger instead,
    // and the PlanShapeSpec fence polices that every unpartitioned window
    // in the suite sits above an aggregate where it belongs.
    val w = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = Window.partitionBy()
    docs
      .groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(org.apache.spark.sql.GraftBridge.tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(total), 6))
      .withColumn("cum_share",
        round(sum(col("n_tokens")).over(w).cast("double")
          / sum(col("n_tokens")).over(total), 6))
  }

  /** Zipf-law fit of the corpus unigram distribution: OLS slope and
    * intercept of ln(frequency) against ln(rank) over the full
    * vocabulary (rank 1 = most frequent term). A healthy natural-text
    * corpus sits near slope −1; template/boilerplate floods, dedup
    * failures, and tokenizer bugs all bend it — the one-row vocabulary
    * health check a curation pipeline runs per snapshot.
    *
    * Exactness contract (the gate hashes representations):
    *  - ranks are generated per FREQUENCY CLASS as the exact integer
    *    range the class occupies in the descending sort. Every OLS term
    *    is tie-permutation invariant — within a class, ln(c) is
    *    constant and the rank set is the same whatever order an engine
    *    assigns — so an external engine's row_number() OVER (ORDER BY c
    *    DESC) reproduces the sums exactly without agreeing on tie
    *    order (terms never need to leave the map side here);
    *  - each per-row double term is cast to decimal(28,18) once (the
    *    defining rounding) and summed EXACTLY via the int128 aggregate
    *    (sum128Product with weight 1), so the sums are independent of
    *    partitioning; the final fit is one scalar double computation
    *    over those exact sums, identical in any engine.
    *
    * Collision caveat: the vocabulary is keyed on the 64-bit token hash
    * (tokenTfs.h) while an external string-keyed engine groups by the
    * term itself, so a hash collision merges two terms and shifts
    * `n_terms` — a DIRECTLY gate-compared output, not just a rounded
    * aggregate — plus every OLS sum. Accepted under the repo's
    * documented ~V²/2^65 collision budget (cf. the other unigram
    * operators), but unlike those, a collision here is visible as an
    * integer mismatch, not a sixth-decimal wobble.
    *
    * Scale shape: one vocabulary-sized shuffle (term-hash groupBy, the
    * same 8-byte keys as the other unigram operators), one
    * counts-of-counts census shuffle (distinct frequency VALUES — e.g.
    * ~thousands at billions of tokens), a dimension-sized unpartitioned
    * window over the census for class offsets (cf. corpusMixture), and
    * a CHUNKED rank explode (≤ 65536 ranks per generated array, so the
    * rank-1-frequency class of a Zipfian corpus — half the vocabulary —
    * never materializes as one in-row array). No corpus-sized global
    * window or sort anywhere.
    */
  def zipfSlope(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val br = org.apache.spark.sql.GraftBridge
    val counts = graft.core.Spread.ensureParallel(docs)
      .select(br.tokenTfs(lower(col(textCol))).as("_tc"))
      .select(explode(when(size(col("_tc")) > 0, col("_tc"))).as("tc"))
      .select(col("tc.h").as("term"), col("tc.tf").as("tf"))
      .groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val census = counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val ranks = classRanks(census, ascending = false)
    val x = log(col("rn").cast("double"))
    val y = log(col("c").cast("double"))
    def s128(e: org.apache.spark.sql.Column) = br.sum128Product(lit(1L), e, 18)
    val sums = ranks.agg(count(lit(1)).as("n_terms"),
      s128(x).as("sx"), s128(y).as("sy"),
      s128(x * x).as("sxx"), s128(x * y).as("sxy"))
    val nD = col("n_terms").cast("double")
    def d(c: String) = col(c).cast("double")
    // degenerate-corpus guard: a single frequency class (every term
    // equally frequent) zeroes the OLS denominator; IEEE division would
    // yield NaN here while an external engine may yield NULL or error —
    // both sides of the gate agree on NULL (the oracle mirrors with
    // NULLIF). An empty corpus is already NULL through the null sums.
    val denom = nD * d("sxx") - d("sx") * d("sx")
    val slope = when(denom === 0.0, lit(null).cast("double"))
      .otherwise((nD * d("sxy") - d("sx") * d("sy")) / denom)
    sums.select(col("n_terms"),
      round(slope, 6).as("slope"),
      round((d("sy") - slope * d("sx")) / nD, 6).as("intercept"))
  }

  /** Gini coefficient of per-document token counts — the corpus length
    * inequality report (G = 0: uniform lengths; G → 1: a few huge docs
    * hold all the tokens). Drift here flags chunking bugs, boilerplate
    * floods, or a source whose length mix changed — the one-number
    * companion to the length-quantile gate.
    *
    * Same exactness machinery as [[zipfSlope]]: ranks come from the
    * length-value census as exact integer ranges (ascending), every
    * rank·length product stays in longs (bounded by n·maxLen ≪ 2^63),
    * the rank-weighted sum accumulates EXACTLY in the int128 aggregate
    * (decimal(38,0) — the 100 TB-safe form of the oracle's HUGEINT
    * sum), and the final G = (2·Σrn·x − (n+1)·Σx) / (n·Σx) is one
    * scalar double computation both engines reproduce bit-for-bit.
    * Tie-permutation invariant for the same reason as zipfSlope: within
    * a length class, x is constant and the rank set is fixed.
    *
    * Scale shape: one dimension-sized shuffle (the length census —
    * lengths are bounded integers), the dimension-sized offset window,
    * and a linear chunked rank explode. No corpus-sized sort or window.
    */
  def giniLengths(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val br = org.apache.spark.sql.GraftBridge
    val lens = graft.core.Spread.ensureParallel(docs)
      .select(org.apache.spark.sql.GraftBridge.tokenCount(col(textCol)).as("c"))
    val census = lens.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val ranks = classRanks(census, ascending = true)
    val sums = ranks.agg(count(lit(1)).as("n_docs"),
      sum(col("c")).as("total_tokens"),
      br.sum128Long(col("rn") * col("c"), 0).as("_srx"))
    val nD = col("n_docs").cast("double")
    val sxD = col("total_tokens").cast("double")
    // degenerate-corpus guard (see zipfSlope): all-empty docs make
    // total_tokens 0 and G undefined — NULL on both gate sides instead
    // of engine-dependent NaN/NULL/error division semantics
    sums.select(col("n_docs"), col("total_tokens"),
      when(nD * sxD === 0.0, lit(null).cast("double"))
        .otherwise(round((lit(2.0) * col("_srx").cast("double") - (nD + 1) * sxD)
          / (nD * sxD), 6)).as("gini"))
  }

  /** Exact global ranks for a value census `(c, m)` — one output row
    * per underlying element, `(c, rn)`, where each value class occupies
    * its exact integer rank range in the `ascending`/descending sort.
    * The offset window runs over the census frame (dimension-sized; cf.
    * corpusMixture's note), and ranges materialize via a CHUNKED
    * explode (≤ 65536 ranks per generated array) so a dominant class —
    * e.g. the frequency-1 half of a Zipfian vocabulary — never builds
    * one giant in-row array. Consumers must only use rank aggregates
    * that are invariant to order WITHIN a class (sums of f(rn)·g(c)
    * are: g(c) is constant per class and the rank set is fixed), which
    * is exactly what makes an external engine's row_number() over the
    * raw rows reproduce them without agreeing on tie order.
    */
  private def classRanks(census: DataFrame, ascending: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = if (ascending) col("c").asc else col("c").desc
    val w = Window.orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunk = 65536L
    census.withColumn("_end", sum(col("m")).over(w))
      .withColumn("_start", col("_end") - col("m"))
      .select(col("c"), col("_start"), col("m"),
        explode(sequence(lit(0L),
          floor((col("m") - 1) / chunk).cast("long"))).as("_ch"))
      .select(col("c"),
        explode(sequence(
          col("_start") + col("_ch") * chunk + 1,
          least(col("_start") + col("m"),
            col("_start") + (col("_ch") + 1) * chunk))).as("rn"))
  }
}
