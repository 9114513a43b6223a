package org.apache.spark.sql

import graft.functions.{BloomMightContain, C4LineStats, CanonFingerprint, DoubleDotProduct, Md5Hash60, RepetitionStats, ShingleHashes, TokenSetHits}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.sketch.BloomFilter

/** Bridge into Spark's private[sql] surface: wraps custom Catalyst
  * expressions as user-facing Columns. Lives in org.apache.spark.sql by
  * necessity (the Column <- Expression constructor is private[sql] since
  * the Spark 4 column-node refactor); contains no Spark-internal logic of
  * its own.
  */
object GraftBridge {

  /** Column over the native codegen'd double-array dot product. */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DoubleDotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column over the fused nearest-seed assignment (struct(cluster, ccos)). */
  def nearestSeed(vec: Column, sids: Array[Long],
                  seeds: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.NearestSeed(
      ExpressionUtils.expression(vec), sids, seeds))

  /** Column over the fused nearest-centroid assignment (struct(cell, ccos)). */
  def nearestCenter(vec: Column, centers: Array[Array[Double]],
                    tieHigh: Boolean = false): Column =
    ExpressionUtils.column(graft.functions.NearestCenter(
      ExpressionUtils.expression(vec), centers, tieHigh))

  /** Column of a vector's top-n cell ids in rank order (see
    * graft.functions.NearestCells).
    */
  def nearestCells(vec: Column, centers: Array[Array[Double]], n: Int,
                   tieHigh: Boolean): Column =
    ExpressionUtils.column(graft.functions.NearestCells(
      ExpressionUtils.expression(vec), centers, n, tieHigh))

  /** Column over the fused product-quantization encoder
    * (array of struct(subspace, code, dist)).
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]],
               subDim: Int): Column =
    ExpressionUtils.column(graft.functions.PqEncode(
      ExpressionUtils.expression(vec), codebooks, subDim))

  /** Column of the executor-side per-(probe, cell) ADC distance table
    * (see graft.functions.PqAdcTable).
    */
  def pqAdcTable(vec: Column, cell: Column, centers: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]], subDim: Int): Column =
    ExpressionUtils.column(graft.functions.PqAdcTable(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cell),
      centers, codebooks, subDim))

  /** Column of the ADC lookup-sum over a packed code array (see
    * graft.functions.PqAdcSum).
    */
  def pqAdcSum(table: Column, codes: Column, kCodes: Int): Column =
    ExpressionUtils.column(graft.functions.PqAdcSum(
      ExpressionUtils.expression(table), ExpressionUtils.expression(codes), kCodes))

  /** Bounded per-group top-k aggregate (see graft.functions.BoundedTopK). */
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(graft.functions.BoundedTopK(
      ExpressionUtils.expression(score), ExpressionUtils.expression(id), k)
      .toAggregateExpression())

  /** Assert a column can never be null (Catalyst AssertNotNull: marks the
    * expression non-nullable; a null at runtime is an error, not a skip).
    * The explicit handshake BoundedTopK's nullable-input type-check
    * demands from callers whose columns are schema-nullable (any parquet
    * read) but value-non-null by construction.
    */
  def assertNotNull(c: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
        ExpressionUtils.expression(c)))

  /** Register graft's SQL functions on an already-constructed session —
    * the `spark.sql.extensions` conf is only consulted at session build
    * time, so driver-provided sessions register here instead (same
    * triples as [[graft.GraftExtensions]]; idempotent, later wins).
    */
  def registerGraftFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.GraftExtensions.registrations.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }

  /** Column extracting one top-level JSON field in a fused byte scan
    * (see graft.functions.JsonGetField) — drop-in for
    * `get_json_object(c, s"$$.$key")` on valid documents.
    */
  def jsonGet(c: Column, key: String): Column =
    ExpressionUtils.column(graft.functions.JsonGetField(
      ExpressionUtils.expression(c), key))

  /** Column of distinct w-shingle xxhash64 values (see
    * graft.functions.ShingleHashes).
    */
  def shingleHashes(text: Column, w: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), w))

  /** Column counting common elements of two sorted-distinct long arrays
    * (see graft.functions.SortedIntersectCount).
    */
  def intersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(graft.functions.SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column of fused token/set-hit counts (see
    * graft.functions.TokenSetHits).
    */
  def tokenSetHits(text: Column, sets: Seq[Seq[String]]): Column =
    ExpressionUtils.column(TokenSetHits(ExpressionUtils.expression(text), sets))

  /** Column of fused per-doc repetition statistics (see
    * graft.functions.RepetitionStats).
    */
  def repetitionStats(text: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(text)))

  /** Exact decimal(38, scale) sum via an int128 accumulator (see
    * graft.functions.Sum128). `c` must already be the desired
    * decimal(<=18, scale) — pass `col.cast(DecimalType(p, scale))`.
    */
  def sum128(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    ExpressionUtils.column(graft.functions.Sum128(
      UnscaledValue(ExpressionUtils.expression(c)), scale).toAggregateExpression())
  }

  /** The unscaled long of a decimal column — project this (codegen'd)
    * ahead of an aggregation and feed the resulting ATTRIBUTE to
    * [[sum128Long]]. (Sum128 is declarative/codegen'd since r13, so the
    * old interpreted-child penalty is gone; keeping arithmetic in the
    * projection still lets several aggregates share one computed input.)
    */
  def unscaled(c: Column): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions
      .UnscaledValue(ExpressionUtils.expression(c)))

  /** [[sum128]] over an already-unscaled long column. */
  def sum128Long(c: Column, scale: Int): Column =
    ExpressionUtils.column(graft.functions.Sum128(
      ExpressionUtils.expression(c), scale).toAggregateExpression())

  /** Exact decimal(38, scale) sum of `weight × value` — the weighted
    * accumulation `sum(weight.cast(decimal(9,0)) *
    * value.cast(decimal(28,18)))` with the per-row decimal multiply and
    * decimal(38,18) sum both replaced by int128 long arithmetic (see
    * graft.functions.ProductUnscaled18 / Sum128Pair). Bit-identical
    * null/overflow arms to the cast chain.
    */
  def sum128Product(weight: Column, value: Column, scale: Int): Column =
    ExpressionUtils.column(graft.functions.Sum128Pair(
      graft.functions.ProductUnscaled18(
        ExpressionUtils.expression(weight),
        ExpressionUtils.expression(value)), scale).toAggregateExpression())

  /** Reinterpret a LONG column as the unscaled value of a
    * decimal(38, scale) — Catalyst's MakeDecimal, the terminal step of
    * the footer-proven long-sum dispatch (see
    * [[graft.functions.ExactSum]]). Any long fits 38 digits, so the
    * nullOnOverflow arm is unreachable; null passes through as null.
    */
  def makeDecimal38(c: Column, scale: Int): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.MakeDecimal(
      ExpressionUtils.expression(c), 38, scale, nullOnOverflow = true))

  /** Column of in-row (token-hash, tf) pairs (see
    * graft.functions.TokenTfs).
    */
  /** Column of the fused DSIR per-doc score over an ngramBucketCounts
    * array (see graft.functions.DsirScore).
    */
  def dsirScore(bc: Column, lr: Array[Double]): Column =
    ExpressionUtils.column(graft.functions.DsirScore(
      ExpressionUtils.expression(bc), lr))

  /** Column of fused per-doc hashed n-gram bucket counts (see
    * graft.functions.NgramBucketCounts).
    */
  def ngramBucketCounts(text: Column, buckets: Int): Column =
    ExpressionUtils.column(graft.functions.NgramBucketCounts(
      ExpressionUtils.expression(text), buckets))

  def tokenTfs(text: Column): Column =
    ExpressionUtils.column(graft.functions.TokenTfs(
      ExpressionUtils.expression(text)))

  /** Column of in-row (term-string, tf) pairs (see
    * graft.functions.TokenTermTfs).
    */
  def tokenTermTfs(text: Column): Column =
    ExpressionUtils.column(graft.functions.TokenTermTfs(
      ExpressionUtils.expression(text)))

  /** Column of the whole SimHash fingerprint in one fused pass (see
    * graft.functions.SimHashFp).
    */
  def simHashFp(text: Column, bits: Int): Column =
    ExpressionUtils.column(graft.functions.SimHashFp(
      ExpressionUtils.expression(text), bits))

  /** Column of the whole MinHash signature from a shingle-hash array
    * (see graft.functions.MinHashSig).
    */
  def minHashSig(arr: Column, numPerm: Int): Column =
    ExpressionUtils.column(graft.functions.MinHashSig(
      ExpressionUtils.expression(arr), numPerm))

  /** Column of fixed-stride token chunk strings (see
    * graft.functions.TokenChunks).
    */
  def tokenChunks(text: Column, window: Int, stride: Int): Column =
    ExpressionUtils.column(graft.functions.TokenChunks(
      ExpressionUtils.expression(text), window, stride))

  /** Column of the first 60 md5 bits as a long (see
    * graft.functions.Md5Hash60).
    */
  def md5Hash60(c: Column): Column =
    ExpressionUtils.column(Md5Hash60(ExpressionUtils.expression(c)))

  /** Column of the fused canonical-form md5 fingerprint (see
    * graft.functions.CanonFingerprint).
    */
  def canonFingerprint(text: Column): Column =
    ExpressionUtils.column(CanonFingerprint(ExpressionUtils.expression(text)))

  /** Column of fused count-and-replace over one regex — struct(n,
    * redacted) in one pass (see graft.functions.RegexRedact).
    */
  def regexRedact(text: Column, pattern: String, replacement: String): Column =
    ExpressionUtils.column(graft.functions.RegexRedact(
      ExpressionUtils.expression(text), pattern, replacement))

  /** Column of the whitespace token count WITHOUT materializing the
    * token array (see graft.functions.TokenCount) — bit-identical to
    * `size(array_remove(split(text, " ", -1), "")).cast("long")`.
    */
  def tokenCount(text: Column): Column =
    ExpressionUtils.column(graft.functions.TokenCount(
      ExpressionUtils.expression(text)))

  /** Column counting `[a-z]+|[0-9]+` matches over already-lowercased
    * text without materializing them (see graft.functions.AlnumRunCount).
    */
  def alnumRunCount(loweredText: Column): Column =
    ExpressionUtils.column(graft.functions.AlnumRunCount(
      ExpressionUtils.expression(loweredText)))

  /** Column of the native fused int8 quantization — struct(scale,
    * quantized) in one pass (see graft.functions.QuantizeInt8).
    */
  def quantizeInt8(vec: Column): Column =
    ExpressionUtils.column(graft.functions.QuantizeInt8(
      ExpressionUtils.expression(vec)))

  /** Column rendering array<int> as a comma-joined string in one pass
    * (see graft.functions.IntCsv).
    */
  def intCsv(arr: Column): Column =
    ExpressionUtils.column(graft.functions.IntCsv(
      ExpressionUtils.expression(arr)))

  /** Column of the native fused L2 normalization (see
    * graft.functions.L2Normalize).
    */
  def l2Normalize(vec: Column): Column =
    ExpressionUtils.column(graft.functions.L2Normalize(
      ExpressionUtils.expression(vec)))

  /** Column rendering array<double> in the gate's scale-6 decimal CSV
    * shape in one pass (see graft.functions.FormatDec6Csv).
    */
  def formatDec6Csv(vec: Column): Column =
    ExpressionUtils.column(graft.functions.FormatDec6Csv(
      ExpressionUtils.expression(vec)))

  /** Column of the fused three-pattern PII redaction scanner —
    * struct(n_emails, n_ipv4, n_digit_runs, redacted) in one hand-rolled
    * pass chain (see graft.functions.PiiRedact).
    */
  def piiRedact(text: Column): Column =
    ExpressionUtils.column(graft.functions.PiiRedact(
      ExpressionUtils.expression(text)))

  /** Column of fused C4 line-filter stats (see
    * graft.functions.C4LineStats).
    */
  def c4LineStats(text: Column, minWords: Int): Column =
    ExpressionUtils.column(C4LineStats(ExpressionUtils.expression(text), minWords))

  /** Column probing a pre-built Bloom filter (see
    * graft.functions.BloomMightContain).
    */
  def bloomMightContain(c: Column, filter: BloomFilter): Column =
    ExpressionUtils.column(BloomMightContain(ExpressionUtils.expression(c), filter))

  /** Free the block-manager storage behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` only clears CacheManager entries; checkpoint
    * blocks are RDD-level cache and otherwise linger until GC-driven
    * cleanup — unacceptable for iterative algorithms that checkpoint
    * every round.
    */
  /** Drain the async listener bus — lets dev tooling read listener-fed
    * counters (job/task metrics) deterministically after an action.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def freeCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
