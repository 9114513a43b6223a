package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming deduplication for the ingest path: drop exact/normalized
  * duplicates as documents arrive, instead of a full-corpus batch dedup
  * after the fact.
  *
  * State design: `dropDuplicatesWithinWatermark` keeps one state row per
  * key seen within the watermark horizon and evicts older keys — bounded
  * state, unlike plain `dropDuplicates` on a stream (whose state grows
  * with every distinct key forever). The horizon is the dedup guarantee:
  * a duplicate arriving later than the watermark delay after its first
  * copy can slip through; batch dedup (operators.Dedup) remains the
  * periodic exact sweep. This mirrors production pipelines: streaming
  * dedup bounds the working set, batch dedup is the ground truth.
  */
object StreamingDedup {

  /** Exact dedup on an existing key column. */
  def exactWithinWatermark(stream: DataFrame, keyCol: String, tsCol: String,
                           delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Normalized-text dedup: fingerprint (lowercase, strip punctuation,
    * collapse whitespace, md5) computed map-side, then keyed dedup on it.
    */
  def normalizedWithinWatermark(stream: DataFrame, textCol: String, tsCol: String,
                                delay: String): DataFrame =
    stream.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** MinHash-LSH near-dup detection on the ingest path — a
    * `foreachBatch` sink over [[graft.operators.Dedup.NearDupIndex]]:
    * each arriving micro-batch is shingled/signed ONCE (one
    * batch-proportional pass), judged for near-dup pairs WITHIN itself
    * (`selfPairs`) and AGAINST the accumulated corpus (`pairsWith`), and
    * its arrays/buckets — a pure function of the batch — append to the
    * corpus store. Later batches therefore never re-shingle the corpus:
    * the corpus side of every bucket join is a plain parquet read, the
    * production incremental-LSH lifecycle (at 100 TB the store is
    * partitioned by band like [[graft.operators.Dedup.NearDupIndex.save]]).
    *
    * Pair contract: (doc_a < doc_b, exact-verified jaccard) — cross
    * pairs are normalized with least/greatest so the folded result is
    * id-order-agnostic. With batches arriving in id order the folded
    * results equal the one-shot [[graft.operators.Dedup.minhashLshPairs]]
    * over the union EXACTLY (not just probabilistically: a doc's
    * signature depends only on the doc, so one-shot and incremental see
    * identical band-bucket candidates) — the StreamingSpec
    * sequential-equivalence property.
    *
    * Exactly-once: the corpus is one [[AppendStore]] with two parts,
    * `arrays` and `buckets`, under `corpusDir`, so a batch commits both
    * halves in one manifest swap. The pairs are judged against the
    * committed batches below this one and written to `batch_id=N` under
    * `resultDir` before the corpus commit, so a crash-replayed batch
    * re-judges against exactly the pre-crash corpus and overwrites its own
    * directories. A half-written batch is not in the manifest, and no read
    * sees it. The store folds once `compactEvery` batches are live. Empty
    * batches are a no-op (same guard as [[semanticBatchSink]]).
    */
  def nearDupBatchSink(corpusDir: String, resultDir: String,
                       textCol: String, idCol: String,
                       w: Int = 3, numPerm: Int = 128, bands: Int = 32,
                       threshold: Double = 0.8,
                       compactEvery: Int = AppendStore.CompactEvery): (DataFrame, Long) => Unit =
    (batchDf, batchId) => {
      try if (!batchDf.isEmpty) {
        val store = nearDupStore(batchDf.sparkSession, corpusDir, compactEvery)
        val parts = graft.operators.Dedup.buildNearDupIndex(
          batchDf.select(col(idCol), col(textCol)), textCol, idCol,
          w, numPerm, bands, cache = false)
        val within = parts.selfPairs(threshold)
        val pairs = store.readBefore(batchId) match {
          case Some(Seq(arraysDf, bucketsDf)) =>
            val corpus = graft.operators.Dedup.nearDupIndexFromParts(
              arraysDf, bucketsDf, w, numPerm, bands)
            val cross = corpus.pairsWith(parts, threshold)
              .filter(col("doc_a") =!= col("doc_b"))
              .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
                greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
            within.unionByName(cross)
          case _ => within
        }
        pairs.write.mode("overwrite").parquet(s"$resultDir/batch_id=$batchId")
        store.append(batchId, Seq(parts.arrays, parts.buckets))
      } finally graft.core.CacheScope.release()
    }

  private def nearDupStore(spark: SparkSession, corpusDir: String,
                           compactEvery: Int = AppendStore.CompactEvery) =
    new AppendStore(spark, corpusDir, Seq("arrays", "buckets"), compactEvery)

  /** SemDeDup on the ingest path — a `foreachBatch` sink: each arriving
    * micro-batch is judged against the accumulated corpus with
    * [[graft.operators.Dedup.semanticDedupIncremental]] (the first batch
    * with [[graft.operators.Dedup.semanticDedup]]), keep flags land in
    * `resultDir`, and the batch's vectors (kept AND dropped — the
    * contract judges against all prior arrivals) append to the corpus
    * store.
    *
    * Similarity has no equality key, so
    * `dropDuplicatesWithinWatermark` cannot express this; the corpus
    * store IS the state, unbounded by design (it's the curated dataset
    * itself, not an eviction cache).
    *
    * Exactly-once: the corpus is a one-part [[AppendStore]] under
    * `corpusDir`. The batch is judged against the committed batches below
    * it, its flags overwrite `batch_id=N` under `resultDir`, and its
    * vectors commit through the store's manifest last — a crash-replayed
    * batch re-judges against exactly the pre-crash corpus and overwrites
    * its own directories. Idempotent. The store folds once `compactEvery`
    * batches are live.
    *
    * An empty micro-batch (a replayed committed range, an availableNow
    * trigger with no data) writes nothing: it has no rows to judge, and
    * seed selection inside semanticDedup requires some.
    *
    * With ids that grow over time (blockchain/ingest order), the seed set
    * (the corpus's k smallest ids) freezes after the first batch, so
    * assignment is stable across the stream and the folded result equals
    * the one-shot batch dedup — the OperatorsSpec sequential-equivalence
    * property.
    */
  def semanticBatchSink(corpusDir: String, resultDir: String,
                        idCol: String, vecCol: String,
                        k: Int = 32, threshold: Double = 0.35,
                        compactEvery: Int = AppendStore.CompactEvery)
      : (DataFrame, Long) => Unit = (batchDf, batchId) => {
    try if (!batchDf.isEmpty) {
      val store = new AppendStore(batchDf.sparkSession, corpusDir, compactEvery = compactEvery)
      val judged = store.readBefore(batchId) match {
        case Some(Seq(corpus)) => graft.operators.Dedup.semanticDedupIncremental(
          batchDf, corpus.select(col(idCol), col(vecCol)),
          idCol, vecCol, k, threshold)
        case _ => graft.operators.Dedup
          .semanticDedup(batchDf, idCol, vecCol, k, threshold)
      }
      judged.write.mode("overwrite").parquet(s"$resultDir/batch_id=$batchId")
      store.append(batchId, Seq(batchDf.select(col(idCol), col(vecCol))))
    } finally graft.core.CacheScope.release()
  }

  /** Roll a [[nearDupBatchSink]]'s corpus store and results back to
    * batches BELOW `fromBatch` — the corpus-store counterpart of
    * [[PlugRunner.truncateFromBatch]] for a past-horizon fork. Replay
    * alone is NOT enough after a fork that yields FEWER batches: the
    * stale batches above the corrected feed's high-water mark would stay
    * committed and pollute the corpus reads of every later batch. Call
    * this alongside the plug-table truncation, with the stream stopped,
    * then replay the corrected feed from `fromBatch` (with its checkpoint
    * rewound or recreated — the sinks themselves are idempotent per batch
    * id). A fork inside a folded or merged segment is handled
    * ([[AppendStore.truncateFrom]]). Idempotent: re-run it after a crash.
    */
  def truncateNearDupFrom(spark: SparkSession, corpusDir: String, resultDir: String,
                          fromBatch: Long): Unit = {
    nearDupStore(spark, corpusDir).truncateFrom(fromBatch)
    dropResultsFrom(spark, resultDir, fromBatch)
  }

  /** [[truncateNearDupFrom]] for a [[semanticBatchSink]]. */
  def truncateSemanticFrom(spark: SparkSession, corpusDir: String, resultDir: String,
                           fromBatch: Long): Unit = {
    new AppendStore(spark, corpusDir).truncateFrom(fromBatch)
    dropResultsFrom(spark, resultDir, fromBatch)
  }

  /** Delete the `batch_id=N` result directories with `N >= fromBatch`.
    * Results are per-batch outputs, not state: no later batch reads them.
    */
  private def dropResultsFrom(spark: SparkSession, resultDir: String, fromBatch: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(resultDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.split("=") match {
          case Array("batch_id", n) => n.toLongOption.exists(_ >= fromBatch)
          case _ => false
        })
        .foreach(fs.delete(_, true))
  }
}
