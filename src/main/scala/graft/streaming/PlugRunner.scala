package graft.streaming

import graft.plugs.Plug
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Structured-Streaming execution of a plug (reference: the hand-rolled
  * PL/pgSQL micro-batch loop `hpp.sync_plug`, database/sql/sync.sql:31-39 +
  * per-chunk cursor commit :106-111).
  *
  * Spark mapping: source offsets + checkpointing replace `app_next_block` /
  * `plug_state` cursors (T1-T3); `foreachBatch` applies the plug transform
  * and writes sinks *idempotently* so replays after failure are
  * exactly-once:
  *
  *  - append tables land under `_batch_id=<id>` partitions with dynamic
  *    partition overwrite — a replayed batch overwrites its own partition
  *    and nothing else;
  *  - stateful tables go through [[ParquetStateStore]]: state version N is
  *    derived from the latest version < N plus batch N, so recomputing
  *    batch N is a pure overwrite of version N.
  */
class PlugRunner(
    plug: Plug,
    outDir: String,
    mergeFns: Map[String, (Option[DataFrame], Map[String, DataFrame]) => DataFrame] = Map.empty) {

  /** Coarse block bucket for sink partitioning (~3.5 days of chain per
    * directory at 1 block / 3 s).
    */
  val BlockBucketSize: Int = 100000

  def tableDir(name: String): String = s"$outDir/${plug.name}/$name"

  /** How many state versions to retain after each commit: old versions
    * only exist to serve replay of *their* batch, and the stream is never
    * more than one batch behind — keep the committed version plus its
    * predecessor. Without pruning the version directories grow without
    * bound (directory-listing cost at high batch counts).
    */
  val StateKeepLast: Int = 2

  /** Process one micro-batch (callable directly for batch backfill — the
    * reference's "massive sync" mode, sync.sql:58-77, is exactly this
    * function over a historical block range).
    *
    * Append tables carrying `block_num` are additionally partitioned by a
    * coarse block bucket — the storage-layout replacement for the
    * reference's B-tree indexes on block_num (SURVEY §4): block-range
    * predicates (F1) prune whole directories at scan planning time.
    *
    * The batch is read once, into memory, in one slice per
    * `spark.sql.files.maxPartitionBytes` of the optimizer's size estimate,
    * so every write, the check-in cursor and polls' content fold run one
    * task per slice. A small batch is one slice: per-task set-up (the
    * write job's Hadoop configuration, generated projections, the parquet
    * writer) costs more than its rows, and with one partition the cursor
    * aggregate needs no exchange. Slicing only merges splits (`coalesce`),
    * and the estimate has two limits: for a block-range filter over a
    * parquet scan it is the whole relation's size, an upper bound, so a
    * range of a large log may keep more slices than its rows need; and a
    * source without statistics reports `spark.sql.defaultSizeInBytes`, so
    * it keeps its splits.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    // read the input once: every table and the check-in derive from this
    // in-memory copy, and it is gone again when the batch returns
    val owned = own(batch)
    val input = owned.coalesce(slices(owned)).persist(StorageLevel.MEMORY_ONLY)
    try commitBatch(input, batchId) finally input.unpersist(blocking = true)
  }

  /** `ceil(estimated bytes / maxPartitionBytes)`, at least 1. */
  private def slices(batch: DataFrame): Int = {
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val perTask = batch.sparkSession.sessionState.conf.filesMaxPartitionBytes
    ((bytes + perTask - 1) / perTask).max(1).min(Int.MaxValue).toInt
  }

  private def commitBatch(batch: DataFrame, batchId: Long): Unit = {
    val tables = plug.transform(batch)
    tables.foreach { case (name, df) =>
      mergeFns.get(name) match {
        case Some(fn) =>
          val store = new ParquetStateStore(df.sparkSession, tableDir(name))
          // read with the schema the merge writes: no inference job
          val prior = store.readBefore(batchId, Some(fn(None, tables).schema))
          store.commit(batchId, fn(prior, tables))
          store.prune(StateKeepLast)
        case None =>
          val out =
            if (!df.columns.contains("block_num")) df
            else df.withColumn(AppendStore.BucketCol,
              expr(s"CAST(block_num DIV $BlockBucketSize AS INT)"))
          appendStore(df.sparkSession, name).append(batchId, Seq(out))
      }
    }
    // engine metadata (hpp.plug_state equivalent, §1.1-B): cursor + check-in
    PlugState.checkIn(batch.sparkSession, outDir, plug.name, batchId, batch)
  }

  /** The batch under a plan that is this runner's alone. Spark's
    * CacheManager keeps one entry for all equal plans of a session, so two
    * runners persisting the same range (the same op-log read, as plugs
    * over one op type do) would share it, and one runner's unpersist would
    * drop blocks the other is still reading. A constant column naming the
    * runner's table root, dropped again, makes the plans differ; the
    * optimizer prunes it, so nothing of it is computed or cached.
    */
  private[graft] def own(batch: DataFrame): DataFrame =
    batch.withColumn("_graft_runner", lit(s"$outDir/${plug.name}")).drop("_graft_runner")

  /** Batch backfill over a historical block range in bounded chunks — the
    * reference's catch-up/massive-sync mode (T2): process the history as
    * plain batches (no streaming state), then start the stream from the
    * cursor. Chunking mirrors `_step := 100` (sync.sql:59) scaled up;
    * each chunk is an idempotent processBatch keyed by its ordinal.
    */
  def backfill(ops: DataFrame, first: Long, last: Long,
               chunk: Long = 100000, batchIdBase: Long = 0): Long = {
    val ranges = graft.serving.ApiShaping.rangeSplit(first, last, chunk)
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      processBatch(
        ops.filter(col("block_num").between(lo, hi)), batchIdBase + i)
    }
    batchIdBase + ranges.size
  }

  /** Stream batch ids restart at 0 with a fresh checkpoint, which would
    * collide with partitions a prior [[backfill]] wrote under the same
    * `_batch_id` key space (dynamic partition overwrite would clobber
    * them); and a stream pointed at a source overlapping the backfilled
    * history would re-ingest it. On first start each checkpoint pins the
    * stream's origin — batch-id base = cursor batch + 1, block cursor =
    * cursor block (the reference's `app_next_block` resume,
    * sync.sql:31-39) — and restarts reuse the pinned origin so replays
    * stay idempotent.
    */
  private def streamOrigin(spark: SparkSession, checkpoint: String): (Long, Long) = {
    // Hadoop FS, not java.io: checkpointLocation is any Hadoop path
    // (file:, hdfs:, s3a:, ...) — a java.io.File of a URI string would
    // silently resolve elsewhere and re-derive a different origin per
    // start, which is exactly the non-idempotence this file prevents.
    val path = new org.apache.hadoop.fs.Path(checkpoint, "graft_stream_origin")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parse(raw: String): Option[(Long, Long)] = raw.trim.split(",") match {
      case Array(a, b) =>
        for (x <- a.toLongOption; y <- b.toLongOption) yield (x, y)
      case _ => None
    }
    val pinned =
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        val raw = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        // tolerate a torn write (crash mid-create): fall through and
        // re-derive + re-pin instead of bricking every future start
        parse(raw)
      }
    pinned.getOrElse {
      // Base must clear EVERY committed batch id, not just the last one
      // with a non-null cursor: trailing empty batches still committed
      // state versions and check-ins, and colliding with them would make
      // readBefore(base) miss the prior state (post-prune) and silently
      // rebuild merge tables from scratch.
      val base = (PlugState.maxBatchId(spark, outDir, plug.name) ++
        mergeFns.keys.flatMap(n => new ParquetStateStore(spark, tableDir(n)).latestVersion))
        .map(_ + 1).maxOption.getOrElse(0L)
      val cursor = PlugState.latest(spark, outDir, plug.name)
      val origin = (base, cursor.map(_._2).getOrElse(-1L))
      // write-then-rename so a crash can't leave a half-written pin
      val tmp = new org.apache.hadoop.fs.Path(checkpoint, "graft_stream_origin.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"${origin._1},${origin._2}".getBytes("UTF-8")) finally out.close()
      fs.delete(path, false)
      fs.rename(tmp, path)
      origin
    }
  }

  def start(source: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (base, afterBlock) = streamOrigin(source.sparkSession, checkpoint)
    val fresh =
      if (afterBlock >= 0) source.filter(col("block_num") > afterBlock) else source
    fresh.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => processBatch(batch, base + id) }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Fold threshold for append tables (see [[AppendStore.CompactEvery]]);
    * a table's directory count stays under `CompactEvery +
    * AppendStore.MergeSegmentsAt + 1`. 0 disables.
    */
  val CompactEvery: Int = AppendStore.CompactEvery

  /** Each append table's store, made on first use; it keeps the table's
    * manifest in memory, so a batch or a read of [[table]] opens no file.
    */
  private val appendStores =
    new java.util.concurrent.ConcurrentHashMap[String, AppendStore]()

  private def appendStore(spark: SparkSession, name: String): AppendStore =
    appendStores.computeIfAbsent(name,
      _ => new AppendStore(spark, tableDir(name), compactEvery = CompactEvery))

  /** Fold append batches `<= upToBatch` into one compact segment (see
    * [[AppendStore.compact]]). Only call with `upToBatch` strictly below
    * any batch id that may still replay; [[processBatch]]'s auto-trigger
    * uses `batchId - 1`, whose source offsets committed before the current
    * batch started.
    */
  def compactAppends(spark: SparkSession, name: String, upToBatch: Long): Unit = {
    require(!mergeFns.contains(name),
      s"$name is a merge table; its state store already compacts via prune")
    appendStore(spark, name).compact(upToBatch)
  }

  /** Read the current contents of a derived table. An append table is the
    * union of what its manifest commits: the merged and folded segments and
    * the live batch partitions above their watermark. A replayed backfill
    * chunk can re-materialize a folded id's directory, and a crashed
    * compaction can leave folded directories behind; the manifest excludes
    * both without a listing.
    */
  def table(spark: SparkSession, name: String): DataFrame =
    if (mergeFns.contains(name))
      new ParquetStateStore(spark, tableDir(name)).read()
        .getOrElse(spark.emptyDataFrame)
    else
      appendStore(spark, name).read().map(_.head).getOrElse(
        // nothing committed: let the plain read surface its own
        // empty-path semantics
        spark.read.parquet(tableDir(name)).drop(AppendStore.BatchCol, AppendStore.BucketCol))

  /** Fork recovery — truncate-and-replay from the fork point (T7 hard
    * path). The irreversibility watermark ([[graft.core.OpLog
    * .finalizedOnly]]) keeps ordinary forks out of derived state
    * entirely: blocks inside the horizon are never ingested, so a
    * re-emission with a different trx set simply arrives later as the
    * only version the engine ever sees. This method is the recovery for
    * the PAST-HORIZON emergency the reference handles with HAF cascade
    * deletes (plugs/podping/tables.sql:12-16): roll every sink back to
    * the state as of batches `< fromBatch` (the first batch that
    * ingested a forked block — the truncation unit is the batch), then
    * restart the stream with a FRESH checkpoint over the corrected feed.
    * The stream-origin pin re-derives base/cursor from the surviving
    * check-ins, so replay resumes exactly at the fork point and a fresh
    * build over the corrected chain is reproduced (pinned by spec).
    *
    * Append tables roll back to any depth, a fork inside a folded or
    * merged segment included ([[AppendStore.truncateFrom]]). Merge tables
    * must still retain a state version below the fork
    * ([[StateKeepLast]]), and the check-in store a check-in below it
    * ([[PlugState.KeepLast]]): those bounds are validated before ANYTHING
    * is mutated, so a too-deep fork fails with all sinks and the cursor
    * untouched — never a half-truncated mix. The mutation order is cursor
    * FIRST, sinks after: once the check-ins report the pre-fork cursor, any
    * restart replays from the fork point (overwriting leftover post-fork
    * batch dirs idempotently), whereas the reverse order would open a crash
    * window where the cursor is post-fork while sinks are pre-fork and a
    * restart silently skips the truncated range. The method is idempotent
    * — after a crash mid-truncation, re-run it to completion before
    * restarting the stream (required for merge tables, whose fold reads
    * the latest retained version).
    */
  def truncateFromBatch(spark: SparkSession, tableNames: Seq[String],
                        fromBatch: Long): Unit = {
    // phase 1 — validate every retention bound up front; no mutation
    // happens unless every table (and the cursor history) can roll back
    val (merged, appended) = tableNames.partition(mergeFns.contains)
    // the check-in store leads: cursor first (see scaladoc), then the sinks
    val states = PlugState.store(spark, outDir, plug.name) +:
      merged.map(name => new ParquetStateStore(spark, tableDir(name)))
    states.foreach(_.validateTruncateFrom(fromBatch))
    // phase 2 — mutate in that order
    states.foreach(_.truncateFrom(fromBatch))
    appended.foreach(appendStore(spark, _).truncateFrom(fromBatch))
  }

  /** DDL-at-boot (S9; reference `database/haf.py:38-47,72-84` runs
    * idempotent CREATE SCHEMA/TABLE from per-plug .sql files): register
    * the plug's namespace and its sink directories as external tables in
    * the session catalog, so `spark.sql("SELECT ... FROM podping.updates")`
    * works like the reference's `<plug>.<table>` queries. Idempotent —
    * IF NOT EXISTS on both levels, safe to call at every boot.
    *
    * Stateful (merge-fn) tables are registered as `<plug>_<table>` temp
    * views over the latest committed version — a SNAPSHOT: the view pins
    * that version's directory, which `prune` retires as the stream
    * advances, so re-register (re-run this method) to refresh; tables
    * with no committed version yet are skipped rather than bound to an
    * empty schemaless frame. A compacted append table is registered the
    * same way, in place of its external table.
    */
  def registerCatalog(spark: SparkSession, tableNames: Seq[String]): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${plug.name}")
    tableNames.foreach { name =>
      if (mergeFns.contains(name))
        new ParquetStateStore(spark, tableDir(name)).read()
          .foreach(_.createOrReplaceTempView(s"${plug.name}_$name"))
      else if (appendStore(spark, name).manifest.watermark >= 0) {
        // compacted (a fold or merge watermark is committed): data lives in
        // `_compact` segment/merged dirs the external-table path can't see
        // (hidden dir), and the raw-location fallback would silently serve
        // only the few live batch dirs — register the watermark-aware
        // union as a view, same refresh contract as the merge tables, and
        // drop the external table an earlier boot registered: it lists
        // batch files the fold has since deleted
        table(spark, name).createOrReplaceTempView(s"${plug.name}_$name")
        spark.sql(s"DROP TABLE IF EXISTS ${plug.name}.$name")
      } else {
        // nothing written yet -> schema inference would fail; register on
        // a later boot once the first batch has landed (same not-yet-
        // committed guard the merge tables get above)
        val dir = new org.apache.hadoop.fs.Path(tableDir(name))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) {
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS ${plug.name}.$name
               |USING PARQUET LOCATION '${tableDir(name)}'""".stripMargin)
          // sinks are partitioned (_batch_id / _block_bucket): sync the
          // catalog's partition list with the directories on every boot
          spark.sql(s"MSCK REPAIR TABLE ${plug.name}.$name")
        }
      }
    }
  }
}

/** Engine metadata (reference `hpp.plug_state`, database/sql/tables.sql:8-15):
  * the plug's cursor (latest block and its block time) and wall check-in.
  * The reference keeps one row per plug, updated in place; here batch N
  * commits a one-row version N of a [[ParquetStateStore]] at
  * `<outDir>/<plug>/_plug_state`, so check-ins commit, prune and roll back
  * through the merge tables' protocol. Mostly subsumed by Structured
  * Streaming checkpoints; kept as a queryable table because the status API
  * (E3) reads it.
  */
object PlugState {

  /** Check-in versions [[checkIn]] keeps. A fork can roll back every
    * kept batch but the oldest, whose version holds the cursor to roll back
    * to.
    */
  val KeepLast: Int = 16

  private val schema = new StructType()
    .add("latest_block_num", IntegerType)
    .add("latest_block_time", TimestampType)
    .add("plug", StringType, nullable = false)
    .add("batch_id", LongType, nullable = false)
    .add("check_in", TimestampType, nullable = false)

  private[streaming] def store(spark: SparkSession, outDir: String,
                               plugName: String): ParquetStateStore =
    new ParquetStateStore(spark, s"$outDir/$plugName/_plug_state")

  /** Commit version `batchId`: batch `batchId`'s check-in time and, in
    * `batch_id` and the cursor columns, the newest batch at or before it
    * that had a cursor. A batch with rows writes its own cursor; an empty
    * batch (null cursor) copies the version below it, so a replay rewrites
    * the same row. The cursor is collected and the row built from it in the
    * JVM: the batch id and the check-in time as plan literals would be
    * written into the generated code (the check-in time is
    * `current_timestamp()`, folded to a literal), so every batch would
    * compile new classes.
    */
  def checkIn(spark: SparkSession, outDir: String, plugName: String,
              batchId: Long, batch: DataFrame): Unit = {
    val states = store(spark, outDir, plugName)
    val cursor = batch.agg(
      max(col("block_num")).as("latest_block_num"),
      max(col("timestamp")).as("latest_block_time")).head()
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    val prior =
      if (!cursor.isNullAt(0)) None
      else states.readBefore(batchId, Some(schema)).map(_.head())
    val row = prior.fold(Row.fromSeq(cursor.toSeq ++ Seq(plugName, batchId, now)))(
      p => Row.fromSeq(p.toSeq.init :+ now))
    states.commit(batchId, spark.createDataFrame(java.util.List.of(row), schema))
    states.prune(KeepLast)
  }

  /** Highest committed batch id regardless of cursor content — empty
    * batches check in too and own their batch id (and state version);
    * anything allocating NEW batch ids must clear this, not [[latest]].
    * A directory listing; no Spark job.
    */
  def maxBatchId(spark: SparkSession, outDir: String, plugName: String): Option[Long] =
    store(spark, outDir, plugName).latestVersion

  /** Latest cursor per plug — the status-endpoint scan (S3): the newest
    * version's batch id and block, None while no batch has had a cursor.
    */
  def latest(spark: SparkSession, outDir: String, plugName: String): Option[(Long, Long)] =
    store(spark, outDir, plugName).read(Some(schema)).map(_.head())
      .filterNot(_.isNullAt(0))
      .map(r => (r.getLong(3), r.getInt(0).toLong))
}

/** Versioned parquet state table: `v=<batchId>` directories, latest wins.
  * Replaces the reference's transactional UPDATE/INSERT state maintenance
  * (T3/T9) without requiring a transactional table format: committing
  * version N twice (failure replay) simply rewrites the same directory.
  * Holds the plug merge tables and the plug check-ins ([[PlugState]]).
  */
class ParquetStateStore(spark: SparkSession, dir: String) {
  import org.apache.hadoop.fs.Path

  // Hadoop FS throughout, for the same reason streamOrigin is (see its
  // scaladoc): `dir` is any Hadoop path (file:, hdfs:, s3a:, ...). With
  // java.io.File a non-local checkpoint would list zero versions, so
  // readBefore() yields None and merge tables are silently rebuilt from
  // scratch every batch while prune never deletes anything.
  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versions: Seq[Long] = {
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      // toLongOption, not toLong: a stray non-numeric suffix (leftover
      // tool dir, editor droppings) must be ignored, not brick every
      // listing for the table's lifetime
      .flatMap(_.getPath.getName.stripPrefix("v=").toLongOption)
      .filter(v => fs.exists(new Path(root, s"v=$v/_SUCCESS")))
      .sorted
  }

  def latestVersion: Option[Long] = versions.lastOption

  /** The newest committed version below `batchId`. Given `schema` (the
    * schema the version was written with), the read runs no
    * schema-inference job.
    */
  def readBefore(batchId: Long, schema: Option[StructType] = None): Option[DataFrame] =
    versions.filter(_ < batchId).lastOption.map(load(_, schema))

  def read(schema: Option[StructType] = None): Option[DataFrame] =
    latestVersion.map(load(_, schema))

  private def load(v: Long, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(s"$dir/v=$v")

  def commit(batchId: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/v=$batchId")

  /** Compaction: drop all but the newest `keepLast` committed versions
    * (old versions only exist to serve replay of *their* batch; once the
    * stream is `keepLast` batches past them they are unreachable).
    */
  def prune(keepLast: Int = 2): Unit =
    versions.dropRight(keepLast)
      .foreach(v => fs.delete(new Path(root, s"v=$v"), true))

  /** Fork rollback: drop every version `>= fromBatch`, leaving the last
    * version below the fork as the live snapshot. Versions are COMPLETE
    * snapshots (version N is derived from version <N plus batch N), so
    * surviving version M alone IS the state as of batch M — but [[prune]]
    * bounds how far back one exists: a rollback deeper than the retained
    * window must fail loudly (rebuilding from an empty store would
    * silently drop all pre-fork state) rather than truncate to nothing.
    */
  def truncateFrom(fromBatch: Long): Unit = {
    validateTruncateFrom(fromBatch)
    versions.filter(_ >= fromBatch)
      .foreach(v => fs.delete(new Path(root, s"v=$v"), true))
  }

  /** The retained-window bound of [[truncateFrom]] alone, mutation-free —
    * [[PlugRunner.truncateFromBatch]] validates every table before
    * truncating any, so a too-deep fork leaves all state untouched.
    */
  def validateTruncateFrom(fromBatch: Long): Unit = {
    val vs = versions
    if (vs.exists(_ >= fromBatch))
      require(vs.exists(_ < fromBatch),
        s"state rollback to batch $fromBatch reaches past every retained " +
          s"version (${vs.mkString(",")}) of $dir — rebuild it from scratch")
  }
}
