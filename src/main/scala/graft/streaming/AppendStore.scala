package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An append-only parquet table written one micro-batch at a time and
  * committed through a one-file manifest: the plug runner's append tables
  * (one part) and the streaming-dedup corpus stores (the near-dup store has
  * two parts, `arrays` and `buckets`) all keep their data here.
  *
  * Layout, per part (a part named "" is the root itself):
  *
  *  - `<part>/_batch_id=N/` one batch, written by dynamic partition
  *    overwrite, so a replayed batch overwrites its own directory and
  *    nothing else; a frame carrying `_block_bucket` is also partitioned by
  *    it;
  *  - `<part>/_compact/v=W/` a fold of the batches in `(prevW, W]`;
  *  - `<part>/_compact/m=W/` the cumulative merge of every batch `<= W`;
  *  - `<root>/_append_manifest` the commit record of every part.
  *
  * Folded and merged directories keep each row's `_batch_id` as a long
  * column, so a fork inside them is truncated by a filter on it.
  *
  * The manifest, not a directory listing, decides what is committed: a
  * batch, fold, merge or truncation of every part is one manifest swap, so
  * a crash between two parts' writes leaves a directory no reader sees, and
  * the deletes after a swap are pure GC. At object-store scale LIST is the
  * slow (and on some stores eventually-consistent) operation, and a year
  * of minutely batches would pay it on every plan; a commit is one
  * `create` + `rename` pair instead.
  *
  * Format: one line `2|m|w1,w2|b1,b2,b3` (version | cumulative merged
  * watermark or empty | ascending fold watermarks | ascending live batch
  * ids), swapped into place by write-tmp-then-rename, the commit primitive
  * Spark's own HDFSMetadataLog uses (atomic on HDFS and local disks;
  * object-store deployments need a rename-capable store for the same
  * reason). Version-1 records (`1|segs|live`, before the merge tier) parse
  * with no merged watermark.
  *
  * The store is its table's one writer. After the first read it keeps the
  * manifest in memory, so a batch or a read opens no file; [[truncateFrom]]
  * reads the file again, as a fresh store (a restart) does.
  */
class AppendStore(spark: SparkSession, root: String, parts: Seq[String] = Seq(""),
                  compactEvery: Int = AppendStore.CompactEvery) {
  import AppendStore._

  private val manifestPath = new Path(root, "_append_manifest")
  private def fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partDir(part: String) = if (part.isEmpty) root else s"$root/$part"
  private def compactDir(part: String) = s"${partDir(part)}/$CompactDir"
  private def batchDir(part: String, n: Long) = s"${partDir(part)}/$BatchPrefix$n"
  /** A compacted directory: `prefix` is [[SegPrefix]] or [[MergedPrefix]]. */
  private def compacted(part: String, prefix: String, w: Long) = s"${compactDir(part)}/$prefix$w"

  private var cached: Option[Manifest] = None

  def manifest: Manifest = synchronized {
    if (cached.isEmpty) cached = Some(readManifest())
    cached.get
  }

  /** The manifest file; if it is missing or torn, one derived from a
    * listing: every `_batch_id=` directory is live, and the highest
    * committed merge supersedes every fold at or below it. A directory
    * counts only when every part has it.
    */
  private def readManifest(): Manifest = {
    val parsed =
      if (!fs.exists(manifestPath)) None
      else {
        val in = fs.open(manifestPath)
        try parse(scala.io.Source.fromInputStream(in).mkString) finally in.close()
      }
    parsed.getOrElse {
      def inEvery(ids: String => Seq[Long]) =
        parts.map(p => ids(p).toSet).reduce(_ intersect _).toSeq.sorted
      def committed(dir: String, prefix: String) = listIds(dir, prefix)
        .collect { case (id, path) if fs.exists(new Path(path, "_SUCCESS")) => id }
      val merged = inEvery(p => committed(compactDir(p), MergedPrefix)).lastOption
      val mw = merged.getOrElse(-1L)
      Manifest(inEvery(p => committed(compactDir(p), SegPrefix)).filter(_ > mw),
        inEvery(p => listIds(partDir(p), BatchPrefix).map(_._1)), merged)
    }
  }

  private def commit(m: Manifest): Unit = {
    val tmp = new Path(root, "._append_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(m).getBytes("UTF-8")) finally out.close()
    fs.delete(manifestPath, false)
    fs.rename(tmp, manifestPath)
    synchronized { cached = Some(m) }
  }

  /** `(id, path)` of every directory under `dir` named `<prefix><id>`,
    * committed or not. A name whose suffix is not a number is ignored.
    */
  private def listIds(dir: String, prefix: String): Seq[(Long, Path)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s => s.getPath.getName.stripPrefix(prefix).toLongOption.map(_ -> s.getPath))
  }

  /** GC: delete every `<prefix><id>` directory under `dir` whose id is
    * `doomed`, committed or not. An uncommitted one is a dead partial write
    * from a crash (the store has one writer), and sparing it would leak a
    * directory per crash.
    */
  private def sweep(dir: String, prefix: String)(doomed: Long => Boolean): Unit =
    listIds(dir, prefix).foreach { case (id, path) => if (doomed(id)) fs.delete(path, true) }

  private def write(df: DataFrame, dir: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (df.columns.contains(BucketCol)) w.partitionBy(BucketCol) else w).parquet(dir)
  }

  /** Write batch `batchId`, one frame per part, and commit it. The data
    * lands first, so a crash before the manifest swap replays the batch
    * (source offsets commit after the sink returns) and re-runs both steps;
    * a replayed id is already a member. An empty frame writes no directory
    * (dynamic overwrite of zero rows), so the id is committed only when the
    * first part's directory exists: a committed id always names data. A
    * later part whose frame is empty then gets a directory holding one
    * schema-only file, so a committed id names a directory in every part.
    *
    * Once [[compactEvery]] ids are live, everything before this batch folds
    * ([[compact]]): ids below `batchId` are past their replay window, their
    * source offsets committed before this batch started. 0 disables.
    */
  def append(batchId: Long, frames: Seq[DataFrame]): Unit = {
    require(frames.size == parts.size, s"${parts.size} parts, ${frames.size} frames")
    parts.zip(frames).foreach { case (p, df) =>
      // the id goes in as a string literal, which generated code holds as a
      // reference; an int or long literal is written into the code itself,
      // so every batch would compile new classes. The directory is
      // `_batch_id=<id>` either way.
      df.withColumn(BatchCol, lit(batchId.toString))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BatchCol +: Seq(BucketCol).filter(df.columns.contains): _*)
        .parquet(partDir(p))
    }
    val before = manifest
    val m =
      if (!fs.exists(new Path(batchDir(parts.head, batchId)))) before
      else {
        parts.zip(frames).tail.foreach { case (p, df) =>
          if (!fs.exists(new Path(batchDir(p, batchId)))) write(df.limit(0), batchDir(p, batchId))
        }
        val added = before.copy(live = (before.live.toSet + batchId).toSeq.sorted)
        commit(added)
        added
      }
    if (compactEvery > 0 && m.live.size >= compactEvery) compact(batchId - 1)
  }

  /** Fold the live batches `<= upToBatch` into `_compact/v=<upToBatch>` in
    * every part, then merge the folds if enough have accumulated.
    *
    * A fold reads only its own batches, never earlier folds, so it costs
    * O(new data). The manifest decides progress, not the fold listing: a
    * crash between the fold's writes and the manifest swap leaves a
    * directory no reader sees, and the next call re-folds it (an idempotent
    * overwrite). A live id at or below the new watermark that was not folded
    * is a replay of an already-folded batch, whose rows a fold holds:
    * readers skip it and the GC here removes its directory.
    *
    * Only call with `upToBatch` strictly below any batch id that may still
    * replay; [[append]]'s trigger uses `batchId - 1`.
    */
  def compact(upToBatch: Long): Unit = {
    val m = manifest
    val foldable = m.live.filter(n => n > m.watermark && n <= upToBatch)
    val folded =
      if (foldable.isEmpty) m
      else {
        parts.foreach { p =>
          write(spark.read.option("basePath", partDir(p))
            .parquet(foldable.map(batchDir(p, _)): _*)
            .withColumn(BatchCol, col(BatchCol).cast("long")), compacted(p, SegPrefix, upToBatch))
        }
        val next = m.copy(segments = (m.segments :+ upToBatch).distinct.sorted,
          live = m.live.filter(_ > upToBatch))
        commit(next)
        parts.foreach(p => sweep(partDir(p), BatchPrefix)(_ <= upToBatch))
        next
      }
    merge(folded)
  }

  /** The fold-tier roll-up: folds still add one directory per
    * [[compactEvery]] batches forever, so once [[MergeSegmentsAt]] are
    * committed they and the prior merge (if any) are rewritten into one
    * cumulative `_compact/m=<W>`. The rewrite is amortised to once per
    * `MergeSegmentsAt * compactEvery` batches, the LSM trade that bounds
    * each part by `MergeSegmentsAt + compactEvery + 1` directories for the
    * stream's lifetime. Its inputs are the manifest's, so a merge directory a
    * crash left behind is never read, and the GC after the swap removes it.
    */
  private def merge(m: Manifest): Unit = {
    if (m.segments.size < MergeSegmentsAt) return
    val w = m.segments.max
    parts.foreach { p =>
      // per-directory reads: folds may be partitioned by _block_bucket, and
      // one multi-root read would need a common base they do not share
      val inputs = m.merged.map(compacted(p, MergedPrefix, _)).toSeq ++
        m.segments.map(compacted(p, SegPrefix, _))
      write(inputs.map(spark.read.parquet(_)).reduce(_.unionByName(_)), compacted(p, MergedPrefix, w))
    }
    commit(Manifest(Nil, m.live.filter(_ > w), Some(w)))
    parts.foreach { p =>
      sweep(compactDir(p), MergedPrefix)(_ < w)
      sweep(compactDir(p), SegPrefix)(_ <= w)
    }
  }

  /** Everything committed, one frame per part; None when nothing is. */
  def read(): Option[Seq[DataFrame]] = readBefore(Long.MaxValue)

  /** The committed batches below `batchId`, one frame per part, without the
    * layout columns; None when there are none. A batch sink judges batch N
    * against this, so a replayed N sees exactly the corpus it saw the first
    * time. A live id at or below the fold watermark is a replayed folded
    * batch whose rows a fold already holds, and is skipped.
    */
  def readBefore(batchId: Long): Option[Seq[DataFrame]] = {
    val m = manifest
    // each compacted directory as (prefix, after, upTo): it holds the
    // batches in (after, upTo]; every fold is above the merge, so the ones
    // read are a prefix of this list and only its last can straddle batchId
    val dirs = (m.merged.toSeq.map(w => (MergedPrefix, -1L, w)) ++
      (m.merged.getOrElse(-1L) +: m.segments).zip(m.segments)
        .map { case (after, w) => (SegPrefix, after, w) })
      .filter { case (_, after, _) => after + 1 < batchId }
    val live = m.live.filter(n => n > m.watermark && n < batchId)
    val frames = parts.map { p =>
      (if (dirs.isEmpty) Nil
       else {
         // one read of all of them: recursive lookup infers no partition
         // column, so directories that each hold a `_block_bucket=` layout
         // need no common base (a basePath of `_compact` would infer a `v`
         // or `m` column that can clash with a data column); `_batch_id` is
         // a data column there, and `_block_bucket` is dropped anyway
         val df = spark.read.option("recursiveFileLookup", "true")
           .parquet(dirs.map { case (prefix, _, upTo) => compacted(p, prefix, upTo) }: _*)
         Seq(if (dirs.last._3 < batchId) df else df.filter(col(BatchCol) < batchId))
       }) ++ (if (live.isEmpty) Nil
              else Seq(spark.read.option("basePath", partDir(p)).parquet(live.map(batchDir(p, _)): _*)))
    }
    if (frames.head.isEmpty) None
    else Some(frames.map(_.map(_.drop(BatchCol, BucketCol)).reduce(_.unionByName(_))))
  }

  /** Roll the store back to the batches below `fromBatch`, for fork
    * recovery. Live batches at or above it go. Compacted directories wholly
    * at or above it go. The one that holds batches on both sides of it is
    * rewritten, filtered on its `_batch_id` column, as the directory with
    * watermark `fromBatch - 1` (a merge stays a merge, a fold a fold).
    *
    * Commit order: the rewrite lands under a name no manifest references,
    * the manifest swap is the commit, and the GC runs last, so a crash
    * anywhere leaves a readable store and a re-run finishes the job. Runs
    * offline, with the stream stopped.
    */
  def truncateFrom(fromBatch: Long): Unit = {
    val m = readManifest()
    synchronized { cached = Some(m) }
    val mw = m.merged.getOrElse(-1L)
    // rewrite the rows below the fork of a compacted directory holding
    // (after, upTo]; None when it holds none of them
    def rewrite(prefix: String, after: Long, upTo: Long): Option[Long] =
      if (after + 1 >= fromBatch) None
      else {
        val kept = parts.map(p =>
          spark.read.parquet(compacted(p, prefix, upTo)).filter(col(BatchCol) < fromBatch))
        if (kept.head.isEmpty) None
        else {
          parts.zip(kept).foreach { case (p, df) => write(df, compacted(p, prefix, fromBatch - 1)) }
          Some(fromBatch - 1)
        }
      }
    val truncated =
      if (mw >= fromBatch) Manifest(Nil, Nil, rewrite(MergedPrefix, -1L, mw))
      else {
        val (below, above) = m.segments.partition(_ < fromBatch)
        val boundary = above.headOption.flatMap(rewrite(SegPrefix, below.lastOption.getOrElse(mw), _))
        Manifest(below ++ boundary, m.live.filter(_ < fromBatch), m.merged)
      }
    if (truncated != m) commit(truncated)
    parts.foreach { p =>
      sweep(partDir(p), BatchPrefix)(_ >= fromBatch)
      sweep(compactDir(p), SegPrefix)(_ >= fromBatch)
      sweep(compactDir(p), MergedPrefix)(_ >= fromBatch)
    }
  }
}

object AppendStore {

  /** Fold threshold: once this many batch directories are live, the next
    * batch folds them. Without folding a year of minutely batches is ~500k
    * directories, and every planner listing pays for all of them. 0
    * disables.
    */
  val CompactEvery: Int = 64

  /** Merge threshold: once this many folds are committed they merge into
    * one cumulative directory.
    */
  val MergeSegmentsAt: Int = 8

  /** The batch-id partition column: a string in batch directories, a long
    * in compacted ones.
    */
  val BatchCol = "_batch_id"

  /** The block-range partition column of plug tables carrying `block_num`. */
  val BucketCol = "_block_bucket"

  val BatchPrefix = s"$BatchCol="
  val CompactDir = "_compact"
  val SegPrefix = "v="
  val MergedPrefix = "m="

  case class Manifest(segments: Seq[Long], live: Seq[Long], merged: Option[Long] = None) {
    /** The highest batch id a compacted directory holds, -1 if none. */
    def watermark: Long = (merged.toSeq ++ segments).maxOption.getOrElse(-1L)
  }

  private def render(m: Manifest): String =
    s"2|${m.merged.map(_.toString).getOrElse("")}|${m.segments.mkString(",")}|${m.live.mkString(",")}"

  /** None for a torn or corrupt record: it is re-derived, never trusted. */
  private def parse(raw: String): Option[Manifest] = {
    def ids(s: String): Option[Seq[Long]] =
      if (s.isEmpty) Some(Nil)
      else {
        val parsed = s.split(",").toSeq.map(_.toLongOption)
        if (parsed.forall(_.isDefined)) Some(parsed.flatten) else None
      }
    raw.trim.split("\\|", -1) match {
      case Array("1", segs, live) =>
        for (s <- ids(segs); l <- ids(live)) yield Manifest(s, l)
      case Array("2", merged, segs, live) =>
        for {
          m <- if (merged.isEmpty) Some(None) else merged.toLongOption.map(Some(_))
          s <- ids(segs); l <- ids(live)
        } yield Manifest(s, l, m)
      case _ => None
    }
  }
}
