package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `ingest` workload. Set-up writes the op log of the generated events
  * once (`EventOpLog.fromEvents`) and starts three plug threads, one per
  * plug, each an `OpLogTail` (step 100) feeding a production `PlugRunner`
  * (podping, `PollsStreaming.runner`, hive_engine). The head of the log is
  * the benchmark's. In set-up the plugs ingest the first `warm_blocks`
  * blocks, untimed. Then, `rounds` times, a backlog of `backlog` blocks
  * appears at once and is drained closed-loop (catch-up). In the traced run the head then advances open-loop by one
  * block every 1/`block_rate` s for `live_seconds` (live), as a chain
  * produces blocks on a fixed interval, while the serving mix runs at
  * `serve_rate` against an `HttpApi` over `SparkEntry.servingTables`.
  * After timing, every plug table read through `PlugRunner.table` must
  * equal the one-shot `transform` of the same blocks, both ways.
  */
object Ingest {

  private final class Plug(val name: String, val plug: graft.plugs.Plug,
                           val runner: graft.streaming.PlugRunner) {
    /** (first, last, commit-return nanos) of every committed range. */
    val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val committed = new AtomicLong(0L)
    @volatile var died: Option[Throwable] = None
  }

  def run(conf: Main.Conf, res: Main.Result, tracer: Tracer): Unit = {
    val spark = Main.fairSession(conf)
    val sc = spark.sparkContext
    val counters = SparkCounters.register(sc)
    res.log("session ready")
    val state = conf.state
    val warmBlocks = conf.long("warm_blocks")
    val backlog = conf.long("backlog")
    val head = new AtomicLong(warmBlocks)
    val out = s"$state/plugs"
    val plugs = Seq(
      new Plug("podping", graft.plugs.Podping,
        new graft.streaming.PlugRunner(graft.plugs.Podping, out)),
      new Plug("polls", graft.plugs.Polls, graft.streaming.PollsStreaming.runner(out)),
      new Plug("hive_engine", graft.plugs.HiveEngine,
        new graft.streaming.PlugRunner(graft.plugs.HiveEngine, out)))
    lazy val oplog = spark.read.parquet(s"$state/oplog")
    def readRange(p: Plug)(first: Long, last: Long): DataFrame =
      graft.core.OpLog.blockRange(oplog, first.toInt, last.toInt, p.plug.opTypeIds.toSeq)

    @volatile var stop = false
    @volatile var timing = false
    val files = new Files(out, conf.trace)

    // one micro-batch of plug `p`; in the traced run the transform is also
    // materialized on its own, before the batch, to time the plug layer
    def batch(p: Plug, tail: graft.sources.OpLogTail): Option[(Long, Long)] = {
      val trace = s"b:${p.name}:${p.committed.get}"
      val h = head.get
      val traced = conf.trace && timing
      if (traced) {
        val t0 = System.nanoTime()
        val r = tracer.span("sources.next_range", trace)(_ => tail.nextRange())
        res.sample("sources.next_range_ms", (System.nanoTime() - t0) / 1e6)
        r match {
          case None => return None
          case Some((a, b)) =>
            val ops = readRange(p)(a, b)
            val t1 = System.nanoTime()
            tracer.span("plugs.transform", trace) { _ =>
              p.plug.transform(ops).values.foreach(_.write.format("noop").mode("overwrite").save())
            }
            res.sample(s"plugs.${p.name}.transform_ms", (System.nanoTime() - t1) / 1e6)
            res.sample(s"plugs.${p.name}.rows_out", p.plug.transform(ops).values.map(_.count()).sum.toDouble)
            res.sample("plugs.rows_in", ops.count().toDouble)
        }
      }
      var processNs = 0L
      val t0 = System.nanoTime()
      val done = tracer.span("streaming.batch", trace) { id =>
        tail.runOnce { (ops, first, last) =>
          val p0 = System.nanoTime()
          tracer.span("streaming.process", trace, id)(_ => p.runner.processBatch(ops, last))
          processNs = System.nanoTime() - p0
        }
      }
      val end = System.nanoTime()
      done.foreach { case (first, last) =>
        p.commits.add((first, last, end))
        p.committed.set(last)
        if (timing) {
          val batchMs = (end - t0) / 1e6
          res.sample(s"streaming.${p.name}.batch_ms", batchMs)
          res.sample(s"streaming.${p.name}.sink_ms", processNs / 1e6)
          res.sample("sources.commit_ms", batchMs - processNs / 1e6)
          res.sample("sources.range_blocks", (last - first + 1).toDouble)
          res.sample("sources.backlog_blocks", (h - first + 1).toDouble)
          if (traced && files.scan()) res.sample("streaming.compaction_batch_ms", batchMs)
        }
      }
      done
    }

    val threads = plugs.map { p =>
      val t = new Thread(() => {
        val tail = new graft.sources.OpLogTail(spark, s"$state/ckpt/${p.name}",
          head = () => head.get, readRange = readRange(p), step = 100L)
        sc.setLocalProperty(SparkCounters.TagProperty, s"plug:${p.name}")
        try while (!stop) batch(p, tail) match {
          case None => Thread.sleep(10)
          case Some(_) => ()
        } catch { case e: Throwable => p.died = Some(e) }
      }, s"perfbench-plug-${p.name}")
      t.setDaemon(true)
      t
    }
    def alive = plugs.forall(_.died.isEmpty)
    def allAt(b: Long) = plugs.forall(_.committed.get >= b)

    // the op log is written, and the plugs ingest the warm-up blocks (in
    // the traced run while the serving tables are built and the API warms
    // up; the API and the live phase run in the traced run only)
    val written = Future {
      graft.core.EventOpLog.fromEvents(graft.core.Tables.events(spark, conf.data))
        .repartitionByRange(16, col("block_num"))
        .sortWithinPartitions("block_num", "trx_in_block", "id")
        .write.parquet(s"$state/oplog")
      threads.foreach(_.start())
    }(ExecutionContext.global)
    val serving = if (conf.trace) Some(Serve.startApi(spark, conf, conf.int("blocks"), res, tracer)) else None
    Await.result(written, Duration.Inf)
    while (alive && !allAt(warmBlocks)) Thread.sleep(5)
    res.log(s"plugs warm at block $warmBlocks")

    res.setupDone()
    timing = true
    val before = counters.snapshot(sc)
    val api0 = serving.map { case (api, _, _) => Serve.apiCounters(api) }
    // catch-up: `rounds` rounds of `backlog` blocks that appear at once,
    // each drained closed-loop
    var rounds = 0
    while (alive && rounds < conf.int("rounds")) {
      val target = head.get + backlog
      val t0 = System.nanoTime()
      head.set(target)
      while (alive && !allAt(target)) Thread.sleep(5)
      val roundS = (System.nanoTime() - t0) / 1e9
      res.sample("catchup_round_s", roundS)
      rounds += 1
      res.log(f"catch-up round $rounds: $backlog blocks in $roundS%.2f s")
    }

    // live: the head advances on schedule while the serving mix runs
    val firstLive = head.get + 1
    val due = new ConcurrentHashMap[Long, Long]()
    serving.foreach { case (_, load, mix) =>
      val blockRate = conf.double("block_rate")
      val liveSeconds = conf.double("live_seconds")
      val live = (1 to math.round(blockRate * liveSeconds).toInt).map(_ / blockRate)
      val liveStart = System.nanoTime()
      var served = 0
      val server = new Thread(() => {
        served = load.openLoop(mix, conf.seed, conf.double("serve_rate"), liveSeconds, () => !alive)
      })
      server.start()
      live.takeWhile(_ => alive).zipWithIndex.foreach { case (at, i) =>
        val d = liveStart + (at * 1e9).toLong
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        res.sample("gen.block_late_ms", math.max(0L, System.nanoTime() - d) / 1e6)
        due.put(firstLive + i, d)
        head.set(firstLive + i)
      }
      server.join()
      res.values("gen.requests") = served
      res.values("gen.blocks") = live.size
      res.values("live_s") = (System.nanoTime() - liveStart) / 1e9
    }
    val finalHead = head.get
    res.log(s"live phase done at head $finalHead")
    val drainBy = System.nanoTime() + 60L * 1000000000L
    while (alive && !allAt(finalHead) && System.nanoTime() < drainBy) Thread.sleep(5)
    stop = true
    threads.foreach(_.join(120000))
    res.timedDone()
    res.counters = SparkCounters.diff(before, counters.snapshot(sc))
    serving.foreach { case (api, _, _) => Serve.apiValues(api, api0.get, res) }
    res.values("storage_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    import scala.jdk.CollectionConverters._
    plugs.foreach(p => res.values(s"streaming.${p.name}.batches") =
      p.commits.asScala.count(_._2 > warmBlocks))
    res.values("streaming.files_written") = files.written
    res.values("streaming.compactions") = files.compactions
    res.values("streaming.store_dirs_end") = files.dirs()

    // operations: one per (block, plug) commit
    res.attempted.addAndGet(finalHead * plugs.size)
    plugs.foreach { p =>
      p.died.foreach(e => res.fail(s"plug ${p.name} died: $e"))
      if (p.committed.get < finalHead)
        res.fail(s"plug ${p.name} committed ${p.committed.get} of $finalHead blocks")
    }
    // freshness of every live block: the last plug's commit covering it,
    // minus the block's due time
    val covering = plugs.map(p => p.commits.asScala.toSeq.sortBy(_._1))
    (firstLive to finalHead).foreach { b =>
      val ends = covering.flatMap(_.find { case (f, l, _) => f <= b && b <= l }.map(_._3))
      if (ends.size == plugs.size) res.sample("streaming.live_freshness_ms", (ends.max - due.get(b)) / 1e6)
    }
    serving.foreach { case (api, load, _) =>
      load.verify()
      api.stop()
    }
    res.log("drained; checking tables")

    // correctness: streamed tables equal the one-shot transform, both ways
    // (checked in parallel: each check is a few small jobs)
    val all = graft.core.OpLog.blockRange(oplog, 1, finalHead.toInt, Nil)
    val checks = plugs.flatMap(p => p.plug.transform(all).toSeq.map { case (n, df) => (p, n, df) })
    res.attempted.addAndGet(checks.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conf.cpus)
    val ec = ExecutionContext.fromExecutor(pool)
    val pending = checks.map { case (p, name, oneShot) =>
      Future {
        try {
          val streamed = p.runner.table(spark, name).select(oneShot.columns.map(c => col(s"`$c`")): _*)
          val extra = streamed.exceptAll(oneShot).count()
          val missing = oneShot.exceptAll(streamed).count()
          if (extra != 0 || missing != 0)
            res.fail(s"${p.name}.$name: $extra streamed rows not in the one-shot transform, $missing missing")
        } catch { case e: Exception => res.fail(s"${p.name}.$name: ${e.getMessage}") }
      }(ec)
    }
    pending.foreach(Await.ready(_, Duration.Inf))
    pool.shutdown()
    res.log("tables checked")
    spark.stop()
  }

  /** Files and compactions of the plug store, found by listing it after
    * each batch in the traced run.
    */
  private final class Files(root: String, enabled: Boolean) {
    private val seen = scala.collection.mutable.HashSet[String]()
    private val compacts = scala.collection.mutable.HashSet[String]()

    private def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) c +: walk(c) else Seq(c))

    /** Lists the store; true when a compaction appeared since the last call. */
    def scan(): Boolean = enabled && synchronized {
      val all = walk(new java.io.File(root))
      all.filter(f => f.isFile && f.getName.startsWith("part-")).foreach(f => seen += f.getPath)
      val before = compacts.size
      all.filter(f => f.isDirectory && f.getParentFile.getName == "_compact").foreach(f => compacts += f.getPath)
      compacts.size > before
    }

    def written: Int = synchronized(seen.size)
    def compactions: Int = synchronized(compacts.size)
    def dirs(): Int = walk(new java.io.File(root)).count(_.isDirectory)
  }
}
