package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.AppendStore

/** Long-horizon streaming soak (r13 task 6): drives the durable streaming
  * components together for 1000+ micro-batches and CHECKS the lifetime
  * bounds the specs assert at 120-batch scale:
  *
  *  1. PlugRunner (podping) — append store + two-tier compaction: live
  *     batch dirs < CompactEvery, incremental segments < MergeSegmentsAt,
  *     exactly one cumulative merged dir and one manifest, table count
  *     exact, check-in versions within PlugState's retained window,
  *     checked EVERY batch (a transient unbounded window would hide from
  *     an end-only check); the last check-in's cursor is the tail's last
  *     block.
  *  2. OpLogTail — versioned-cursor GC: <= 2 cursor markers and no
  *     orphaned .tmp after every commit, cursor monotone, 1000 commits.
  *  3. StreamingDedup.nearDupBatchSink — corpus store bound
  *     (merged + segments + live <= MergeSegmentsAt + compactEvery + 1 per
  *     part, at least one, every batch) and EXACT fold equivalence of the
  *     accumulated pair results against the one-shot batch operator over
  *     the full corpus at the end.
  *  4. PointIndex — an epoch roll every 20 batches; every build must
  *     land (bounded staleness) and lookup latency is reported
  *     (p50/p99 over the run) to expose serve-path drift.
  *
  * Prints one [soak] line per component and exits nonzero on any bound
  * violation. Record the run in NOTES.md.
  *
  * Usage: runMain graft.tools.Soak [batches=1000]
  */
object Soak {

  private def fail(msg: String): Nothing = {
    System.err.println(s"[soak] BOUND VIOLATION: $msg")
    sys.exit(1)
  }

  private[tools] def podpingOp(spark: SparkSession, id: Long): DataFrame = {
    val url = s"https://example.test/feed${id % 100000}"
    val payload =
      s"""{\\"version\\": \\"0.3\\", \\"num_urls\\": 1, \\"reason\\": \\"feed_update\\", \\"urls\\": [\\"$url\\"]}"""
    val body =
      s"""{"value": {"required_auths": [], "required_posting_auths": ["alice"], "id": "podping", "json": "$payload"}}"""
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(
        id, graft.core.OpLog.CustomJsonOpType.toShort, id.toInt,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0,
        Array.fill[Byte](4)((id % 127).toByte), body)), 1),
      graft.core.OpLog.schema)
  }

  /** The reference's three shipped plug definitions, VERBATIM
    * (haf_plug_play/plugs/{podping,polls,hive_engine}/defs.json) — the
    * soak boots its runner through [[graft.plugs.PlugDefs.boot]] over
    * these files so the 1000-batch lifecycle guarantees cover the
    * DISCOVERY path (enabled=false skip, start_block honored, bad defs
    * rejected at boot), not just compiled plug objects.
    */
  private val referenceDefs = Map(
    "podping" ->
      """{
        |    "name": "podping",
        |    "props":{
        |        "enabled": true,
        |        "schema": "podping",
        |        "context": "podping",
        |        "start_block": 53690004
        |    },
        |    "ops": {"18": "podping.process_cjop"}
        |}""".stripMargin,
    "polls" ->
      """{
        |    "name": "polls",
        |    "props":{
        |        "enabled": false,
        |        "schema": "polls",
        |        "context": "polls",
        |        "start_block": 59594882
        |    },
        |    "ops": {"18": "polls.process_cjop"}
        |}""".stripMargin,
    "hive_engine" ->
      """{
        |    "name": "hive_engine",
        |    "props":{
        |        "enabled": true,
        |        "schema": "hive_engine",
        |        "context": "hive_engine",
        |        "start_block": 60100000
        |    },
        |    "ops": {"18": "hive_engine.process_cjop"}
        |}""".stripMargin)

  /** Boot the plug set from the verbatim reference defs files and return
    * the podping plug, after checking the boot-path contracts the soak
    * depends on: polls (shipped disabled) is skipped, identity comes from
    * the JSON, and a malformed defs file rejects AT BOOT — before any
    * stream starts.
    */
  private[tools] def bootPodping(base: String): graft.plugs.Plug = {
    val defsDir = new java.io.File(s"$base/plugdefs")
    referenceDefs.foreach { case (name, json) =>
      val d = new java.io.File(defsDir, name); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, "defs.json").toPath, json)
    }
    val booted = graft.plugs.PlugDefs.boot(defsDir)
    if (booted.map(_.name).sorted != Seq("hive_engine", "podping"))
      fail(s"boot must yield the two enabled plugs, got ${booted.map(_.name)}")
    val podping = booted.find(_.name == "podping").get
    if (podping.startBlock != 53690004)
      fail(s"start_block not honored from defs.json: ${podping.startBlock}")
    if (podping.opTypeIds != Set(18))
      fail(s"op ids not honored from defs.json: ${podping.opTypeIds}")
    // bad defs reject at boot, not mid-stream
    val bad = new java.io.File(defsDir, "broken"); bad.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(bad, "defs.json").toPath,
      """{"name": "broken", "props": {"enabled": true}}""")
    val rejected =
      try { graft.plugs.PlugDefs.boot(defsDir); false }
      catch { case _: IllegalArgumentException => true }
    if (!rejected) fail("malformed defs.json must reject at boot")
    new java.io.File(bad, "defs.json").delete(); bad.delete()
    podping
  }

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.core.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    println(s"[soak] $batches batches under $base")

    // ---- 1. PlugRunner + 2. OpLogTail, fed through the real tail loop.
    // The plug comes from PlugDefs.boot over the reference's verbatim
    // defs.json files (not the compiled object), and the tail starts at
    // the defs-declared start_block — the whole 1000-batch lifecycle
    // runs on the discovery path.
    val podping = bootPodping(base)
    val runner = new graft.streaming.PlugRunner(podping, s"$base/plug") {
      override val CompactEvery = 8
    }
    val start = podping.startBlock.toLong - 1 // cursor base: first block = start_block
    var produced = 0L
    val tail = new graft.sources.OpLogTail(
      spark, s"$base/ckpt",
      head = () => start + produced,
      readRange = (from, to) =>
        (from to to).map(b => podpingOp(spark, b)).reduce(_.unionByName(_)),
      step = 1L, startAfterBlock = start)
    val plugDir = new java.io.File(s"$base/plug/podping/updates")
    val checkInDir = new java.io.File(s"$base/plug/podping/_plug_state")
    val checkInsKept = graft.streaming.PlugState.KeepLast
    val ckptDir = new java.io.File(s"$base/ckpt")
    def plugEntries(): Seq[String] =
      Option(plugDir.list()).toSeq.flatten
    def checkPlugBounds(i: Long): Unit = {
      val live = plugEntries().count(_.startsWith("_batch_id="))
      if (live >= 8) fail(s"batch $i: ${live} live plug dirs >= CompactEvery")
      val compact = Option(new java.io.File(plugDir, "_compact").list()).toSeq.flatten
      val segs = compact.count(_.startsWith("v="))
      if (segs >= AppendStore.MergeSegmentsAt + 1)
        fail(s"batch $i: $segs segment dirs — merge tier not firing")
      if (compact.count(_.startsWith("m=")) > 1)
        fail(s"batch $i: multiple cumulative merged dirs: $compact")
      val checkIns = Option(checkInDir.list()).toSeq.flatten.count(_.startsWith("v="))
      if (checkIns == 0 || checkIns > checkInsKept)
        fail(s"batch $i: $checkIns check-in versions, retained window is $checkInsKept")
      val cursors = Option(ckptDir.list()).toSeq.flatten
        .filter(_.startsWith("graft_oplog_cursor"))
      if (cursors.size > 2) fail(s"batch $i: cursor markers not GC'd: $cursors")
      if (cursors.exists(_.endsWith(".tmp")))
        fail(s"batch $i: orphaned cursor tmp: $cursors")
    }
    var lastCursor = 0L
    var t0 = System.nanoTime()
    (1L to batches).foreach { i =>
      produced = i
      tail.runOnce((df, from, to) => runner.processBatch(df, to)) match {
        case Some((_, to)) =>
          if (to <= lastCursor && i > 1) fail(s"cursor not monotone at $i")
          lastCursor = to
        case None => fail(s"tail had no range at batch $i")
      }
      checkPlugBounds(i)
      graft.core.CacheScope.release()
      if (i % 200 == 0) println(f"[soak] plug+tail $i/$batches (${(System.nanoTime - t0) / 1e9}%.0f s)")
    }
    val n = runner.table(spark, "updates").count()
    if (n != batches) fail(s"plug table count $n != $batches")
    val checkedIn = graft.streaming.PlugState.latest(spark, s"$base/plug", "podping")
    if (checkedIn != Some((lastCursor, lastCursor)))
      fail(s"check-in cursor $checkedIn != tail's last block $lastCursor")
    println(s"[soak] PASS plug+tail: $batches batches, table exact, dirs and check-ins " +
      "bounded every batch, check-in cursor at the tail's last block, cursor GC bounded")

    // ---- 3. near-dup streaming store (own batch ids, smaller count —
    // each batch writes 3 stores; bound checked every batch)
    val ndBatches = math.max(256, batches / 2)
    val compactEvery = 16
    val (corpus, results) = (s"$base/nd/corpus", s"$base/nd/results")
    val sink = graft.streaming.StreamingDedup.nearDupBatchSink(
      corpus, results, "text", "doc_id", w = 3, numPerm = 32, bands = 8,
      threshold = 0.5, compactEvery = compactEvery)
    import spark.implicits._
    def docBatch(i: Long): DataFrame = {
      // every 8th batch repeats batch i-8's text => near-dup pairs exist
      val tag = if (i % 8 == 0 && i >= 8) i - 8 else i
      Seq((2 * i, s"alpha beta gamma delta epsilon zeta $tag"),
          (2 * i + 1, s"one two three four five six seven $tag extra"))
        .toDF("doc_id", "text")
    }
    val bound = AppendStore.MergeSegmentsAt + compactEvery + 1
    def entries(dir: String) = Option(new java.io.File(dir).list()).toSeq.flatten
    t0 = System.nanoTime()
    (0L until ndBatches).foreach { i =>
      sink(docBatch(i), i)
      Seq("arrays", "buckets").foreach { sub =>
        val dirs = entries(s"$corpus/$sub").count(_.startsWith(AppendStore.BatchPrefix)) +
          entries(s"$corpus/$sub/${AppendStore.CompactDir}").count(d =>
            d.startsWith(AppendStore.SegPrefix) || d.startsWith(AppendStore.MergedPrefix))
        // every batch has rows, so a count of 0 means the layout moved and
        // this check is counting nothing
        if (dirs == 0) fail(s"nd batch $i: no store directory found under $corpus/$sub")
        if (dirs > bound) fail(s"nd batch $i: $sub has $dirs dirs > bound $bound")
      }
      if (i % 100 == 0) println(f"[soak] neardup $i/$ndBatches (${(System.nanoTime - t0) / 1e9}%.0f s)")
    }
    // fold equivalence: accumulated pairs == one-shot over the union
    val allDocs = (0L until ndBatches).map(docBatch).reduce(_.unionByName(_))
    val oneShot = graft.operators.Dedup.minhashLshPairs(
        allDocs, "text", "doc_id", 3, 32, 8, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val folded = spark.read.parquet(results)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (folded != oneShot)
      fail(s"fold mismatch: folded ${folded.size} pairs vs one-shot ${oneShot.size}; " +
        s"diff ${(folded diff oneShot).take(5)} / ${(oneShot diff folded).take(5)}")
    println(s"[soak] PASS neardup store: $ndBatches batches, dirs <= $bound every batch, " +
      s"fold == one-shot (${oneShot.size} pairs)")

    // ---- 4. PointIndex epoch rolls across the run
    val rolls = 50
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    val idx = new graft.serving.PointIndex("soak",
      () => runner.table(spark, "updates")
        .select(col("url"), col("podping_id")).orderBy("url", "podping_id"),
      r => r.getString(0), maxRows = 10 * batches)
    (1 to rolls).foreach { r =>
      graft.core.Tables.invalidate(Some(spark))
      if (!idx.awaitCurrent(60000)) fail(s"index build $r never landed (staleness unbounded)")
      (1 to 200).foreach { k =>
        val s = System.nanoTime()
        idx.lookup(s"https://example.test/feed${
          (start + 1 + (r * 7 + k) % batches) % 100000}")
        lat += (System.nanoTime() - s) / 1e6
      }
    }
    val sorted = lat.sorted
    val (p50, p99) = (sorted(sorted.size / 2), sorted((sorted.size * 99) / 100))
    println(f"[soak] PASS point index: $rolls epoch rolls all landed; lookup p50 $p50%.3f ms p99 $p99%.3f ms over ${lat.size} lookups")
    println(s"[soak] ALL PASS ($batches plug batches, $ndBatches neardup batches, $rolls rolls)")
    spark.stop()
  }
}
