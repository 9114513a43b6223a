package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}

/** HTTP serving layer (reference: FastAPI endpoints in server/serve.py +
  * server/plug_endpoints/). Zero-dependency (JDK HttpServer); each route
  * validates params (§2.9), builds the DataFrame query against the
  * engine's derived tables, collects, and shapes JSON with the
  * reference's type normalization (timestamps as `%Y-%m-%dT%H:%M:%S`).
  *
  * Routes (mirroring the reference API):
  *   GET /api                               — sync status (E3)
  *   GET /api/podping/history/counts        — url counts over a block range
  *   GET /api/podping/feeds/latest?url=     — {feed_updates, iri,
  *                                            time_since_last_update}
  *   GET /api/polls/active[?tag=]           — live polls
  *   GET /api/polls/ops?op_type=[&block_range_low/high=] — raw poll ops
  *   POST /api/polls/new_permlink?author&question — unique slug
  *   GET /api/polls/summary?author&permlink — per-answer distinct voters
  *   GET /api/polls/votes?author&permlink   — full vote list
  *   GET /api/polls/poll?author&permlink[&summary=] — poll + nested votes
  *   GET /api/polls/user?author[&active=&tag=] — a user's polls
  *   GET /api/polls/tag?tag                 — polls by tag
  */
class HttpApi(
    tables: Map[String, DataFrame],
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    statusFn: () => Map[String, Any] = () => Map("status" -> "GOOD"),
    pointIndexMaxRows: Int = 500000) {

  /** Default query window constants (reference: podping.py:14-37,
    * polls.py "24 hours; 28,800 blocks").
    */
  val DefaultCountsWindow: Long = 864000L
  val DefaultPollOpsWindow: Long = 28800L
  val DefaultLimit = 20

  /** Driver-side collect cap: an API edge returning JSON must bound what
    * it materializes — an unbounded query would OOM the serving process.
    */
  val MaxResponseRows = 10000

  private var server: HttpServer = _

  /** Prepared-plan cache: per-(route, params) memoization of the built
    * DataFrame, keyed additionally on [[graft.core.Tables.epoch]] so any
    * data rewrite (`Tables.invalidate`) drops every prepared plan at
    * once. A cache hit reuses the analyzed/optimized plan object —
    * Catalyst analysis, optimization, and codegen for a repeated request
    * are paid once per data epoch, which is what a prepared statement is.
    *
    * Every cached entry's key embeds EVERYTHING its plan's literals
    * derive from: route params, and — for clock-carrying routes — the
    * SECOND-snapped injected clock ([[snappedNow]]) or the memoized
    * head-of-log anchor ([[headOf]]); a key therefore never serves a
    * plan whose literals differ from what the key states. Because the
    * snapped-clock keys mint a new entry every second under steady
    * traffic, the cache is LRU (access-ordered, size-capped): stale
    * seconds age out one at a time and the hot pure-param entries stay
    * resident — a wholesale clear would re-pay Catalyst for every route
    * at once, the exact tail spike the cache exists to prevent. Dead
    * data epochs age out the same way (their entries stop being
    * touched after an invalidate).
    */
  private val PlanCacheMax = 256
  private val planCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), DataFrame]): Boolean =
        size() > PlanCacheMax
    })
  private[graft] val planCacheHits = new java.util.concurrent.atomic.AtomicLong
  /** Unambiguous cache key: each param is URL-encoded before joining, so
    * a '/' INSIDE a param value (the validators only bound lengths) can
    * never make two distinct (author, permlink) pairs collide onto one
    * key and serve each other's cached results.
    */
  private def planKey(parts: String*): String =
    parts.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("/")
  private def prepared(key: String)(build: => DataFrame): DataFrame = {
    val k = (key, graft.core.Tables.epoch)
    val hit = planCache.get(k)
    if (hit != null) { planCacheHits.incrementAndGet(); hit }
    else {
      // racing builders may each build once; last put wins — harmless
      // (both frames are identical plans) and lock-free on the hot path
      val df = build
      planCache.put(k, df)
      df
    }
  }

  /** Result micro-cache: the final JSON body per (full request URI, data
    * epoch, injected-clock second). The prepared-plan cache above removes
    * Catalyst from the hot path, but a repeated request still pays its
    * collect + JSON shaping and — under load — a seat on the admission
    * gate; measured at 50 closed-loop clients, that queueing (not
    * planning) is the whole p99 tail. A hit serves bytes straight off the
    * heap and SKIPS the gate entirely (it runs no Spark, so execution
    * width doesn't apply). Correctness envelope is exactly the plan
    * cache's: the epoch key drops every entry on a data rewrite, and the
    * second-snapped clock key bounds liveness drift to <= 1 s — below
    * block-time resolution, and the identity under the fixed clocks the
    * specs inject (HttpApiSpec pins byte-identical responses through this
    * path). Only 200 bodies of pure read routes are cached: `/api`
    * (status is live), `/api/metadata` (static already) and the
    * non-idempotent `new_permlink` generator stay uncached.
    *
    * Paired with the cache is REQUEST COALESCING ([[inflight]]): cache
    * misses for an identical (URI, epoch) already being computed park on
    * the owner's future instead of taking their own gate seat — without
    * it, a closed-loop convoy turns one hot route into `maxConcurrent`
    * copies of the same collect racing each other (measured: avgExec per
    * admitted request grows ~20x at 50 clients, and entries keyed by
    * arrival second are stale before they land, a write-only cache).
    * Entries are therefore keyed by the COMPLETION-time second.
    */
  private val ResultCacheMax = 512
  private val resultCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), String](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), String]): Boolean =
        size() > ResultCacheMax
    })
  private[graft] val resultCacheHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val coalescedHits = new java.util.concurrent.atomic.AtomicLong
  /** In-flight computations by (request URI, data epoch) — the coalescing
    * table. An entry lives exactly as long as its owner's computation; the
    * value future carries (status, body) to every waiter.
    */
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), java.util.concurrent.CompletableFuture[(Int, String)]]()
  private def resultCacheable(path: String): Boolean =
    path != "/api" && path != "/api/metadata" &&
      path != "/api/polls/new_permlink"
  private def resultKey(uri: String): (String, Long, Long) =
    (uri, graft.core.Tables.epoch, now().getTime / 1000L)

  /** The injected clock snapped to SECOND granularity — the plan-cache
    * key (and embedded literal) of the clock-carrying routes (`active`
    * filters, user?active=true). Without the snap those routes rebuild
    * their plan on every request because each call's millisecond clock
    * is a fresh literal; with it, every request inside the same second
    * rides one prepared plan, and liveness answers move by at most one
    * second — below the reference's own block-time resolution. Tests
    * inject a FIXED clock, for which the snap is the identity.
    */
  private def snappedNow(): Timestamp = {
    val t = now()
    new Timestamp(t.getTime - java.lang.Math.floorMod(t.getTime, 1000L))
  }

  /** Head-of-log probe memoized per (table, second, data epoch): routes
    * with a defaulted block range (counts, poll ops) probe max(block_num)
    * to anchor the window — a per-request Spark job before this memo.
    * Serving the same head for one second trades <= 1 s of range
    * freshness for dropping the probe from every hot-path request; a
    * data rewrite still invalidates instantly through the epoch key.
    */
  private val headCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]
  private def headOf(name: String, df: => DataFrame): Long = {
    val sec = now().getTime / 1000
    val k = (name, sec, graft.core.Tables.epoch)
    headCache.get(k) match {
      case Some(h) => h
      case None =>
        if (headCache.size > 64)
          headCache.keys.filter(_._2 != sec).foreach(headCache.remove)
        headCache.getOrElseUpdate(k,
          graft.core.OpLog.headBlock(df).getOrElse(0L))
    }
  }

  // ------------------------------------------------------- point indexes
  //
  // Per-epoch in-heap point-lookup indexes (see PointIndex's scaladoc for
  // the correctness/scale contract): each is the route's own query with
  // the key filter dropped and the route's ORDER BY applied per key by
  // Spark (row_number window + global (key, rn) sort — the driver only
  // groups in collect order). A fresh-params request then costs O(1)
  // heap reads instead of Catalyst + a distributed job — the measured
  // unique-params tail (tools/ServeBench `uniq`) is job-launch bound,
  // not plan-cost bound. Routes WITHOUT a deterministic response order
  // (the standalone /api/polls/votes returns collect order) are NOT
  // indexed: an index would reorder their bytes.

  /** Widest `limit` the latest-feed index covers: any request with
    * limit <= this serves a prefix of the indexed top-K (top-L of a
    * per-key ordered set == first L of its top-K for L <= K); larger
    * limits fall back to the per-request plan.
    */
  private val IndexLatestK = 20

  private lazy val latestIdx = new PointIndex("podping_latest", () => {
    import org.apache.spark.sql.functions._
    // feedUpdates' exact pipeline (filter-on-url dropped): join to ops
    // for the hex trx id FIRST, then the route's per-url top-K via the
    // operator that IS its all-keys form (PodpingQueries.latestPerUrl —
    // one definition of the feed chain order, not a re-implementation),
    // then the global (key, route-order) sort the driver groups by
    PodpingQueries.latestPerUrl(
      tables("podping_updates")
        .join(tables("podping_ops").select(col("id").as("podping_id"),
          lower(hex(col("trx_id"))).as("trx_id")), Seq("podping_id")),
      IndexLatestK)
      .orderBy(col("url"), col("block_num").desc, col("podping_id").desc)
      .select("block_num", "created", "trx_id", "url", "reason", "medium")
  }, _.getAs[String]("url"), pointIndexMaxRows)

  /** The polls summary every summary read takes (the route, its index and
    * the poll route's votes): the incrementally-materialized summary when
    * the stream registered one ("polls_summary", see PollsSummaryTable),
    * else the batch join. One source, so index-on and over-cap bytes cannot
    * diverge on a lagging snapshot.
    */
  private def summarySource: DataFrame = {
    import org.apache.spark.sql.functions.col
    tables.get("polls_summary") match {
      case Some(live) => live.select(
        col("author"), col("permlink"), col("parsed_answer"), col("votes"))
      case None => PollsQueries.pollSummary(
        tables("polls_content"), tables("polls_votes"))
    }
  }

  private lazy val summaryIdx = new PointIndex("polls_summary", () => {
    import org.apache.spark.sql.functions.col
    summarySource.orderBy(col("author"), col("permlink"), col("parsed_answer"))
  }, r => PointIndex.key(r.getAs[String]("author"), r.getAs[String]("permlink")),
    pointIndexMaxRows)

  private lazy val userIdx = new PointIndex("polls_user", () => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("author"))
      .orderBy(col("created").desc, col("permlink"))
    tables("polls_content").filter(!col("deleted"))
      .withColumn("_rn", row_number().over(w))
      .orderBy(col("author"), col("_rn"))
      .select("author", "permlink", "question", "answers", "expires", "tag", "created")
  }, _.getAs[String]("author"), pointIndexMaxRows)

  private lazy val pollIdx = new PointIndex("polls_poll", () => {
    import org.apache.spark.sql.functions._
    // no ORDER BY: (author, permlink) is polls_content's primary key
    // (first-create wins — Polls.transform keeps one row per key), so
    // every group is a single row and order cannot exist. The fallback's
    // limit(1) leans on the same uniqueness.
    tables("polls_content").filter(!col("deleted"))
      .select("author", "permlink", "question", "answers", "expires", "tag", "created")
  }, r => PointIndex.key(r.getAs[String]("author"), r.getAs[String]("permlink")),
    pointIndexMaxRows)

  private lazy val votesByPollIdx = new PointIndex("polls_votes_by_poll", () => {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the nested-votes variant of /api/polls/poll ORDERS (created,
    // account, answer) — deterministic, so indexable (unlike the
    // standalone votes route)
    val w = Window.partitionBy(col("author"), col("permlink"))
      .orderBy(col("created"), col("account"), col("answer"))
    tables("polls_content").filter(!col("deleted"))
      .select(col("author"), col("permlink"))
      .join(tables("polls_votes"), Seq("author", "permlink"))
      .withColumn("_rn", row_number().over(w))
      .orderBy(col("author"), col("permlink"), col("_rn"))
      .select("author", "permlink", "account", "answer", "created")
  }, r => PointIndex.key(r.getAs[String]("author"), r.getAs[String]("permlink")),
    pointIndexMaxRows)

  /** Existence keyset for the unique-permlink generator: ALL
    * (author, permlink) pairs (the probe deliberately counts deleted
    * rows too — a reused permlink would collide on insert). No ORDER BY:
    * existence-only, row content and order never read.
    */
  private lazy val contentKeyIdx = new PointIndex("polls_content_keys", () => {
    import org.apache.spark.sql.functions._
    tables("polls_content").select(col("author"), col("permlink"))
  }, r => PointIndex.key(r.getAs[String]("author"), r.getAs[String]("permlink")),
    pointIndexMaxRows)

  private[graft] def pointIndexStats: (Long, Long) = {
    val all = Seq(latestIdx, summaryIdx, userIdx, pollIdx, votesByPollIdx, contentKeyIdx)
    (all.map(_.hits.get).sum, all.map(_.builds.get).sum)
  }

  /** Block until every point index is current for the data epoch (live or
    * marked over-cap) — test/warmup hook for the background-rebuild
    * design, never called on the serve path.
    */
  private[graft] def awaitPointIndexes(): Boolean =
    Seq(latestIdx, summaryIdx, userIdx, pollIdx, votesByPollIdx, contentKeyIdx)
      .forall(_.awaitCurrent())

  def start(port: Int = 0): Int = start("127.0.0.1", port)

  /** Bind per boot config (reference serve.py:41-42 binds uvicorn to
    * `config['server_host']:config['server_port']`).
    */
  def start(cfg: graft.core.GraftConfig): Int = start(cfg.serverHost, cfg.serverPort)

  /** Serve on a fixed pool of `nThreads` handler threads — the
    * counterpart of the reference's 50 uvicorn workers (serve.py), but
    * in-process: every route is a read-only plan over shared immutable
    * frames and the prepared-plan cache is a concurrent map, so handlers
    * need no isolation beyond their own collect. Each handler tags its
    * Spark jobs with the `serving` scheduler pool; under a FAIR-mode
    * session (`spark.scheduler.mode=FAIR`, a static conf) that keeps one
    * heavy request from convoying every light one behind it — under the
    * default FIFO the property is inert. Measured envelope: see
    * tools/ServeBench and the README serving section.
    */
  def start(host: String, port: Int): Int = start(host, port, 32)

  def start(host: String, port: Int, nThreads: Int): Int =
    start(host, port, nThreads,
      maxConcurrent = math.max(4, Runtime.getRuntime.availableProcessors() / 2),
      queueMillis = 30000L)

  /** Bounded admission for the Spark-backed routes: at most
    * `maxConcurrent` requests execute plans at once; the rest WAIT on the
    * gate (a bounded, fair accept queue) and shed with 503 after
    * `queueMillis`. Past ~cores/2 concurrent collects, extra concurrency
    * only grows every request's latency (scheduler thrash + GC — the
    * 50-client closed-loop p99 was pure convoy), so bounding execution
    * width lowers the tail without costing throughput; the shed deadline
    * turns a death spiral under true overload into fast, explicit
    * backpressure. Metadata routes (`/api`, `/api/metadata`) bypass the
    * gate — they run no Spark and must answer even under shed.
    *
    * Thread model: the dispatch pool keeps `nThreads` core threads but
    * GROWS (to 4x, floor 64) when all of them are busy — with a fixed
    * pool, gate-WAITERS exhaust dispatch entirely and the metadata
    * bypass is a dead letter (the health probe sits in the accept queue
    * behind 30 s waiters and an orchestrator restarts a healthy-but-
    * loaded server). Waiting threads are cheap (parked on the fair
    * semaphore); EXECUTION width is what the gate bounds. Past the hard
    * thread cap the overflow request runs on the acceptor thread
    * (CallerRuns), which must never park: it answers metadata inline
    * and sheds Spark routes immediately.
    */
  def start(host: String, port: Int, nThreads: Int, maxConcurrent: Int,
            queueMillis: Long): Int = {
    val gate = new java.util.concurrent.Semaphore(maxConcurrent, true)
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/api", (ex: HttpExchange) => {
      // one pool PER HANDLER THREAD (bounded by nThreads): FAIR mode
      // shares fairly ACROSS pools but runs FIFO within one, so a single
      // shared pool would still convoy requests behind each other
      sparkContextOf.foreach(_.setLocalProperty("spark.scheduler.pool",
        s"serving-${Thread.currentThread().getId}"))
      val path = ex.getRequestURI.getPath
      // only dispatch-pool threads may park on the gate; the acceptor
      // thread (CallerRuns overflow past the thread cap) must stay live
      val canPark = Thread.currentThread().getName.startsWith(HttpThreadPrefix)
      // An interrupt while parked on the gate (pool shutdownNow at server
      // stop) must not propagate out of the handler lambda: that leaves
      // the exchange unanswered (client hangs to socket timeout) and
      // kills the pool worker. Treat it as a shed: restore the interrupt
      // flag and answer 503 through the normal path.
      def acquire(): Boolean =
        try canPark &&
          gate.tryAcquire(queueMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException =>
          Thread.currentThread().interrupt(); false
        }
      def shed(): Unit = {
        shedCount.incrementAndGet()
        respond(ex, 503, JsonOut.obj(Map(
          "error" -> s"overloaded: admission queue exceeded ${queueMillis} ms")))
      }
      if (path == "/api" || path == "/api/metadata") handle(ex)
      else if (!resultCacheable(path)) {
        // non-idempotent / uncacheable: straight through the gate
        val tQueue = System.nanoTime()
        if (acquire()) {
          queueNanos.addAndGet(System.nanoTime() - tQueue)
          val tExec = System.nanoTime()
          try handle(ex) finally {
            gate.release()
            execNanos.addAndGet(System.nanoTime() - tExec)
            gatedCount.incrementAndGet()
          }
        } else shed()
      } else {
        // micro-cache check BEFORE the gate: a hit runs no Spark, so it
        // must not wait behind requests that do
        val uri = String.valueOf(ex.getRequestURI)
        val hit = resultCache.get(resultKey(uri))
        if (hit != null) {
          resultCacheHits.incrementAndGet()
          respond(ex, 200, hit)
        } else {
          // request coalescing: identical in-flight requests share ONE
          // computation — under a closed-loop convoy the alternative is
          // maxConcurrent copies of the same collect racing each other,
          // which is the whole measured tail (avgExec grows ~20x under
          // 50 clients). Only the owner takes a gate seat; waiters park
          // on its future (no Spark, no seat) and respond with the same
          // status/body the owner produced.
          val ik = (uri, graft.core.Tables.epoch)
          val mine = new java.util.concurrent.CompletableFuture[(Int, String)]()
          val theirs = inflight.putIfAbsent(ik, mine)
          if (theirs != null) {
            coalescedHits.incrementAndGet()
            try {
              val (c, b) = theirs.get(queueMillis,
                java.util.concurrent.TimeUnit.MILLISECONDS)
              respond(ex, c, b)
            } catch {
              case _: InterruptedException =>
                Thread.currentThread().interrupt(); shed()
              case _: java.util.concurrent.TimeoutException => shed()
              case _: java.util.concurrent.ExecutionException =>
                respond(ex, 500, JsonOut.obj(Map("error" -> "upstream failed")))
            }
          } else try {
            val tQueue = System.nanoTime()
            if (acquire()) {
              queueNanos.addAndGet(System.nanoTime() - tQueue)
              val tExec = System.nanoTime()
              val (code, body) =
                try routeResult(ex) finally {
                  gate.release()
                  execNanos.addAndGet(System.nanoTime() - tExec)
                  gatedCount.incrementAndGet()
                }
              // cache under the COMPLETION-time second: an entry keyed by
              // the request's arrival second would already be stale by
              // the time a loaded request finishes (measured: write-only
              // cache under 50 clients)
              if (code == 200) resultCache.put(resultKey(uri), body)
              mine.complete((code, body))
              respond(ex, code, body)
            } else {
              mine.complete((503, JsonOut.obj(Map(
                "error" -> s"overloaded: admission queue exceeded ${queueMillis} ms"))))
              shed()
            }
          } finally {
            if (!mine.isDone)
              mine.complete((500, JsonOut.obj(Map("error" -> "handler died"))))
            inflight.remove(ik, mine)
          }
        }
      }
    })
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicLong
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, HttpThreadPrefix + n.incrementAndGet())
        t.setDaemon(true); t
      }
    }
    pool = new java.util.concurrent.ThreadPoolExecutor(
      nThreads, math.max(nThreads * 4, 64),
      60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](), tf,
      new java.util.concurrent.ThreadPoolExecutor.CallerRunsPolicy())
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private val HttpThreadPrefix = "graft-http-"

  private[graft] val shedCount = new java.util.concurrent.atomic.AtomicLong

  /** Gate instrumentation: total nanoseconds spent PARKED on the
    * admission gate vs EXECUTING plans, over `gatedCount` admitted
    * requests — the split that says whether a latency tail is queueing
    * (add capacity / cache) or execution (make the plan faster).
    * tools/ServeBench reports the averages.
    */
  private[graft] val queueNanos = new java.util.concurrent.atomic.AtomicLong
  private[graft] val execNanos = new java.util.concurrent.atomic.AtomicLong
  private[graft] val gatedCount = new java.util.concurrent.atomic.AtomicLong

  private var pool: java.util.concurrent.ExecutorService = _

  private def sparkContextOf: Option[org.apache.spark.SparkContext] =
    tables.values.headOption.map(_.sparkSession.sparkContext)

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }

  // ------------------------------------------------------------------ routes

  private def handle(ex: HttpExchange): Unit = {
    val (code, body) = routeResult(ex)
    respond(ex, code, body)
  }

  private def routeResult(ex: HttpExchange): (Int, String) =
    try {
      val path = ex.getRequestURI.getPath
      val q = parseQuery(Option(ex.getRequestURI.getQuery).getOrElse(""))
      val result: Either[String, String] = path match {
        // root shape mirrors serve.py's `{'name', 'status'}` report, plus
        // the API metadata document FastAPI would fold into its OpenAPI doc
        case "/api" => Right(JsonOut.obj(
          Map("name" -> "graft plug & play", "status" -> statusFn(),
            "metadata" -> JsonOut.Raw(ApiMetadata.json)),
          Seq("name", "status", "metadata")))
        case "/api/metadata" => Right(ApiMetadata.json)
        case "/api/podping/history/counts" => podpingCounts(q)
        case "/api/podping/feeds/latest" => podpingLatest(q)
        // reference-literal route + param name (podping.py:39-40: `iri`)
        case "/api/podping/history/latest/iri" =>
          podpingLatest(q.get("iri").fold(q)(v => q + ("url" -> v)))
        case "/api/polls/active" => pollsActive(q)
        case "/api/polls/ops" => pollsOps(q)
        case "/api/polls/new_permlink" => newPermlink(q)
        case "/api/polls/summary" => pollsSummary(q)
        case "/api/polls/votes" => pollsVotes(q)
        case "/api/polls/poll" => pollWithVotes(q)
        case "/api/polls/user" => pollsUser(q)
        case "/api/polls/tag" =>
          withParam(q, "tag")(t => validateTag(t).map(tag => rowsJson(
            prepared(planKey("tag", tag))(
              PollsQueries.pollsByTag(tables("polls_content"), tag)))))
        // reference path-style routes (polls.py:131, 189, 231):
        // /api/polls/{author}[/{permlink}[/votes]] — the literal names
        // above take precedence, mirroring FastAPI registration order
        case p if p.startsWith("/api/polls/") =>
          def seg(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
          p.stripPrefix("/api/polls/").split('/').toList match {
            case author :: permlink :: "votes" :: Nil =>
              pollsVotes(q + ("author" -> seg(author)) + ("permlink" -> seg(permlink)))
            case author :: permlink :: Nil =>
              pollWithVotes(q + ("author" -> seg(author)) + ("permlink" -> seg(permlink)))
            case author :: Nil =>
              pollsUser(q + ("author" -> seg(author)))
            case _ => Left(s"unknown route: $path")
          }
        case _ => Left(s"unknown route: $path")
      }
      result match {
        case Right(body) => (200, body)
        case Left(err)   => (400, JsonOut.obj(Map("error" -> err)))
      }
    } catch {
      case e: Throwable =>
        (500, JsonOut.obj(Map("error" -> String.valueOf(e.getMessage))))
    }

  /** The reference's literal param shape (plug_endpoints/podping.py:14,
    * 26-34 and polls.py:78,92): ONE `block_range` query param holding a
    * JSON list `[low, high]`. Accepted alongside the explicit
    * `block_range_low`/`_high` pair; the JSON-list form wins when both
    * are present. Returns (low, high) options.
    */
  private def blockRangeParam(
      q: Map[String, String]): Either[String, (Option[Long], Option[Long])] =
    q.get("block_range").filter(_.nonEmpty) match {
      case None =>
        longParam(q, "block_range_high").flatMap(hi =>
          longParam(q, "block_range_low").map(lo => (lo, hi)))
      case Some(raw) =>
        val t = raw.trim
        val parsed =
          if (t.startsWith("[") && t.endsWith("]"))
            t.substring(1, t.length - 1).split(',').map(_.trim) match {
              case Array(a, b) =>
                for (x <- a.toLongOption; y <- b.toLongOption) yield (x, y)
              case _ => None
            }
          else None
        parsed match {
          case Some((lo, hi)) => Right((Some(lo), Some(hi)))
          case None => Left(s"invalid block_range: '$raw' (expected [low,high])")
        }
    }

  private def podpingCounts(q: Map[String, String]): Either[String, String] = {
    val updates = tables("podping_updates")
    for {
      range <- blockRangeParam(q)
      (loOpt, hiOpt) = range
      limit <- intParam(q, "limit").map(_.getOrElse(DefaultLimit))
      body <- {
        val last = hiOpt.getOrElse(headOf("podping_updates",
          updates.select(org.apache.spark.sql.functions.col("block_num"))))
        val first = loOpt.getOrElse(math.max(0L, last - DefaultCountsWindow))
        ApiShaping.validateBlockRange(first, last).map { case (lo, hi) =>
          rowsJson(prepared(planKey("counts", lo.toString, hi.toString, limit.toString))(
            PodpingQueries.urlCounts(updates, lo, hi, limit)))
        }
      }
    } yield body
  }

  /** Latest-feed response shape (plug_endpoints/podping.py:39-60):
    * `{feed_updates: [{trx_id, block_num, created, reason, medium}],
    * iri, time_since_last_update}` — the time-since is computed from the
    * newest update against the injected clock (total seconds; the
    * reference's `.seconds` day-truncation is a documented bug, §2.12).
    */
  private def podpingLatest(q: Map[String, String]): Either[String, String] =
    withParam(q, "url") { url =>
      intParam(q, "limit").map(_.getOrElse(5)).map { limit =>
        import org.apache.spark.sql.functions.col
        val feedCols = Seq("trx_id", "block_num", "created", "reason", "medium")
        // point index first (covers limit <= IndexLatestK, i.e. every
        // real request — the route default is 5): O(1), no Spark job.
        // Fallback: the prepared per-(url, limit) plan. Only the
        // time_since arithmetic below touches the (driver-side) clock.
        val viaIdx =
          if (limit >= 0 && limit <= IndexLatestK) latestIdx.lookup(url) else None
        val rows: Seq[Row] = viaIdx match {
          case Some(all) => all.take(limit)
          case None => prepared(planKey("latest", url, limit.toString))(
              PodpingQueries.feedUpdates(
                tables("podping_updates"), tables("podping_ops"), url, limit)
                .select(feedCols.map(col): _*).limit(MaxResponseRows))
            .collect().toSeq
        }
        val newest = rows.headOption.map(_.getAs[Timestamp]("created"))
        val shaped = rows.map(r => JsonOut.obj(
          ApiShaping.populateBySchema(feedCols.map(c => r.getAs[Any](c)), feedCols),
          feedCols))
        JsonOut.obj(Map(
          "feed_updates" -> JsonOut.Raw(JsonOut.arr(shaped)),
          "iri" -> url,
          "time_since_last_update" ->
            newest.map(t => Long.box(ApiShaping.timeSinceSeconds(t, now()))).orNull),
          Seq("feed_updates", "iri", "time_since_last_update"))
      }
    }

  // tag limit validated identically on every tag-accepting route
  // (reference DDL/endpoint checks, §2.9)
  private def validateTag(t: String): Either[String, String] =
    if (t.length <= 16) Right(t) else Left("invalid tag (must be <= 16 chars)")

  private def tagParam(q: Map[String, String]): Either[String, Option[String]] =
    q.get("tag").filter(_.nonEmpty) match {
      case None => Right(None)
      case Some(t) => validateTag(t).map(Some(_))
    }

  private def pollsActive(q: Map[String, String]): Either[String, String] =
    tagParam(q).map { tag =>
      val t = snappedNow()
      rowsJson(prepared(planKey("active", tag.getOrElse(""), t.getTime.toString))(
        PollsQueries.activePolls(tables("polls_content"), t, tag)))
    }

  /** Raw poll ops over a block range (plug_endpoints/polls.py:77-104):
    * required op_type, optional range defaulting to the last 24 h of
    * blocks; response rows mirror the reference's schema.
    */
  private def pollsOps(q: Map[String, String]): Either[String, String] =
    withParam(q, "op_type") { t =>
      for {
        _ <- if (Set("create", "vote", "delete").contains(t)) Right(())
             else Left(s"invalid op_type: '$t' (create | vote | delete)")
        range <- blockRangeParam(q)
        (loOpt, hiOpt) = range
        body <- {
          val ops = tables("polls_ops")
          val last = hiOpt.getOrElse(headOf("polls_ops",
            ops.select(org.apache.spark.sql.functions.col("block_num"))))
          val first = loOpt.getOrElse(math.max(0L, last - DefaultPollOpsWindow))
          ApiShaping.validateBlockRange(first, last).map { case (lo, hi) =>
            import org.apache.spark.sql.functions.col
            // pure in (op_type, lo, hi) after range resolution — the
            // head-of-log probe above is per-request, the plan is not
            rowsJson(prepared(planKey("ops", t, lo.toString, hi.toString))(
              PollsQueries.pollOps(ops, lo, hi, Some(t))
                .select(col("transaction_id"), col("req_posting_auths"),
                  col("op_type"), col("op_payload"))))
          }
        }
      } yield body
    }

  /** Unique-permlink generation (plug_endpoints/polls.py:22-75): slug the
    * question, then probe `polls_content` (a left-semi existence lookup,
    * A4) and suffix `-2`, `-3`, ... until free. Returns the bare slug
    * string like the reference.
    */
  private def newPermlink(q: Map[String, String]): Either[String, String] =
    withParam(q, "author") { a =>
      withParam(q, "question") { question =>
        for {
          author <- ApiShaping.validateAuthor(a)
          _ <- if (question.length <= 255) Right(())
               else Left("invalid question (must be 1-255 chars)")
        } yield {
          import org.apache.spark.sql.functions.col
          val content = tables("polls_content")
          // keyset index: each slug probe is a set lookup instead of a
          // count job — uniqueSlug probes SERIALLY (-2, -3, ...), so
          // without the index a crowded author pays one Spark job per
          // taken suffix inside one request
          def exists(p: String): Boolean =
            contentKeyIdx.lookup(PointIndex.key(author, p)) match {
              case Some(rows) => rows.nonEmpty
              case None => content
                .filter(col("author") === author && col("permlink") === p)
                .limit(1).count() > 0
            }
          JsonOut.str(ApiShaping.uniqueSlug(question, exists))
        }
      }
    }

  /** Combined poll + votes (reference GET /api/polls/{author}/{permlink},
    * plug_endpoints/polls.py:131-187): one poll row with `votes` nested —
    * per-answer summary by default, the full vote list with summary=false.
    * Unknown polls are a 400 "Poll not found" like the reference.
    */
  private def pollWithVotes(q: Map[String, String]): Either[String, String] =
    withParam(q, "author") { a =>
      withParam(q, "permlink") { p =>
        for {
          author <- ApiShaping.validateAuthor(a)
          permlink <- ApiShaping.validatePermlink(p)
          summary <- boolParam(q, "summary").map(_.getOrElse(true))
          body <- {
            import org.apache.spark.sql.functions.col
            val cols = Seq("author", "permlink", "question", "answers",
              "expires", "tag", "created")
            val pk = PointIndex.key(author, permlink)
            val poll = pollIdx.lookup(pk) match {
              case Some(rows) => rows.headOption
              case None => tables("polls_content")
                .filter(col("author") === author && col("permlink") === permlink &&
                  !col("deleted"))
                .select(cols.map(col): _*).limit(1).collect().headOption
            }
            poll.toRight("Poll not found").map { row =>
              val votesJson =
                if (summary) {
                  val vCols = Seq("parsed_answer", "votes")
                  summaryIdx.lookup(pk) match {
                    case Some(rows) => rowsJson(rows, vCols)
                    case None =>
                      rowsJson(summarySource
                        .filter(col("author") === author && col("permlink") === permlink)
                        .select(vCols.map(col): _*).orderBy(col("parsed_answer"))
                        .limit(MaxResponseRows).collect().toIndexedSeq, vCols)
                  }
                } else {
                  val vCols = Seq("account", "answer", "created")
                  votesByPollIdx.lookup(pk) match {
                    case Some(rows) => rowsJson(rows, vCols)
                    case None => rowsJson(PollsQueries.pollVotes(
                        tables("polls_content"), tables("polls_votes"), author, permlink)
                      // total order: both the response order and WHICH rows
                      // survive the cap must be deterministic
                      .orderBy(col("created"), col("account"), col("answer"))
                      .limit(MaxResponseRows).collect().toIndexedSeq, vCols)
                  }
                }
              JsonOut.obj(
                ApiShaping.populateBySchema(
                  cols.map(c => row.getAs[Any](c)), cols) +
                  ("votes" -> JsonOut.Raw(votesJson)),
                cols :+ "votes")
            }
          }
        } yield body
      }
    }

  private def pollsUser(q: Map[String, String]): Either[String, String] =
    withParam(q, "author") { a =>
      for {
        author <- ApiShaping.validateAuthor(a)
        active <- boolParam(q, "active").map(_.getOrElse(false))
        tag <- tagParam(q)
      } yield {
        // the active variant embeds the (second-snapped) clock: cached
        // per second, like pollsActive
        val t = if (active) Some(snappedNow()) else None
        // Point index: per-author polls, pre-ordered (created desc,
        // permlink) by the build plan. The active/tag variants apply
        // their row predicates driver-side — `expires >= clock` and
        // `tag = t` on microsecond timestamps / exact strings, the same
        // comparisons Spark's filter runs, over an already-ordered
        // subset (filtering preserves order). HttpApiSpec pins both
        // variants byte-equal to the fallback.
        userIdx.lookup(author) match {
          case Some(all) =>
            val live = t.fold(all)(clk => all.filter { r =>
              val e = r.getAs[Timestamp]("expires"); e != null && !e.before(clk)
            })
            val rows = tag.fold(live)(tg =>
              live.filter(r => tg == r.getAs[String]("tag")))
            rowsJson(rows, Seq("author", "permlink", "question", "answers",
              "expires", "tag", "created"))
          case None =>
            rowsJson(prepared(planKey("user", author, tag.getOrElse(""),
                t.map(_.getTime.toString).getOrElse("")))(
              PollsQueries.userPolls(tables("polls_content"), author,
                activeAt = t, tag = tag)))
        }
      }
    }

  private def pollsSummary(q: Map[String, String]): Either[String, String] =
    withParam(q, "author") { a =>
      withParam(q, "permlink") { p =>
        for {
          author <- ApiShaping.validateAuthor(a)
          permlink <- ApiShaping.validatePermlink(p)
        } yield {
          import org.apache.spark.sql.functions.col
          // Point index first (all keys precomputed per epoch), then a
          // filtered read of [[summarySource]]: a plain scan of the
          // latest version when the stream materialized the summary,
          // else the batch join (recomputed per data epoch, like the
          // reference recomputes per request). All paths order by
          // parsed_answer — identical bytes (HttpApiSpec pins route
          // equivalence).
          summaryIdx.lookup(PointIndex.key(author, permlink)) match {
            case Some(rows) =>
              rowsJson(rows, Seq("author", "permlink", "parsed_answer", "votes"))
            case None => rowsJson(prepared(planKey("summary", author, permlink))(
              summarySource
                .filter(col("author") === author && col("permlink") === permlink)
                .orderBy(col("parsed_answer"))))
          }
        }
      }
    }

  private def pollsVotes(q: Map[String, String]): Either[String, String] =
    withParam(q, "author") { a =>
      withParam(q, "permlink") { p =>
        for {
          author <- ApiShaping.validateAuthor(a)
          permlink <- ApiShaping.validatePermlink(p)
        } yield rowsJson(prepared(planKey("votes", author, permlink))(
          PollsQueries.pollVotes(
            tables("polls_content"), tables("polls_votes"), author, permlink)))
      }
    }

  // ------------------------------------------------------------------ utils

  private def withParam(q: Map[String, String], name: String)(
      f: String => Either[String, String]): Either[String, String] =
    q.get(name).filter(_.nonEmpty).toRight(s"missing required param: $name").flatMap(f)

  // Safe numeric/bool param parsing: malformed values are a 400 validation
  // error (like the reference's FastAPI coercion), never a 500.
  private def longParam(q: Map[String, String], name: String): Either[String, Option[Long]] =
    q.get(name).fold[Either[String, Option[Long]]](Right(None))(v =>
      v.toLongOption.map(Some(_)).toRight(s"invalid $name: '$v' (must be an integer)"))

  private def intParam(q: Map[String, String], name: String,
                       min: Int = 0): Either[String, Option[Int]] =
    q.get(name).fold[Either[String, Option[Int]]](Right(None))(v =>
      v.toIntOption.filter(_ >= min).map(Some(_))
        .toRight(s"invalid $name: '$v' (must be an integer >= $min)"))

  private def boolParam(q: Map[String, String], name: String): Either[String, Option[Boolean]] =
    q.get(name).fold[Either[String, Option[Boolean]]](Right(None))(v =>
      v.toBooleanOption.map(Some(_)).toRight(s"invalid $name: '$v' (must be true|false)"))

  private def parseQuery(s: String): Map[String, String] =
    s.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** Collect + shape: list of {col: normalized value} objects (the
    * reference's populate_by_schema + normalize_types, tools.py:51-74).
    */
  private def rowsJson(df: DataFrame): String = {
    val cols = df.columns.toSeq
    val rows = df.limit(MaxResponseRows).collect().toSeq.map { r: Row =>
      ApiShaping.populateBySchema(r.toSeq, cols)
    }
    JsonOut.arr(rows.map(m => JsonOut.obj(m, cols)))
  }

  /** Shape pre-collected index rows exactly like [[rowsJson]] does a
    * DataFrame: same per-type normalization, same column order, same
    * MaxResponseRows cap. By-name extraction (index rows may carry
    * extra columns the route's final select would have dropped).
    */
  private def rowsJson(rows: IndexedSeq[Row], cols: Seq[String]): String =
    JsonOut.arr(rows.take(MaxResponseRows).map(r => JsonOut.obj(
      ApiShaping.populateBySchema(cols.map(c => r.getAs[Any](c)), cols), cols)))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object HttpApi {
  /** Status function composing the health listener and plug-state cursors
    * into the reference's sync-status shape (server/system_status.py:12-29):
    * overall GOOD/BAD plus per-plug latest block and batch.
    */
  def statusFrom(health: graft.streaming.StreamHealth,
                 spark: org.apache.spark.sql.SparkSession,
                 outDir: String, plugs: Seq[String],
                 supervisor: Option[graft.streaming.PlugSupervisor] = None)
      : () => Map[String, Any] = () => {
    val (overall, _) = health.sync_status()
    val supervised = supervisor.map(_.status).getOrElse(Map.empty)
    val plugStates = plugs.map { p =>
      val base = graft.streaming.PlugState.latest(spark, outDir, p) match {
        case Some((batchId, block)) =>
          Map[String, Any]("latest_block_num" -> block, "batch_id" -> batchId)
        case None =>
          Map[String, Any]("latest_block_num" -> null, "batch_id" -> null)
      }
      // supervision telemetry (reference: the 60 s loop's restart
      // accounting): live flag + restart count when supervised
      p -> supervised.get(p).fold(base)(sv =>
        base + ("active" -> sv.isActive) + ("restarts" -> sv.restarts))
    }.toMap
    Map("status" -> overall, "plugs" -> plugStates)
  }
}

/** Minimal JSON writer (no deps). */
object JsonOut {
  /** Pre-rendered JSON passed through `value` verbatim. */
  case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => n.toString
    case n: Double => n.toString
    case s: Seq[_] => arr(s.map(value))
    case a: Array[_] => arr(a.toSeq.map(value))
    case m: Map[_, _] => obj(m.map { case (k, x) => String.valueOf(k) -> x })
    case other => str(String.valueOf(other))
  }

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def obj(m: Map[String, Any], order: Seq[String] = Seq.empty): String = {
    val keys = if (order.nonEmpty) order.filter(m.contains) else m.keys.toSeq
    keys.map(k => s"${str(k)}: ${value(m(k))}").mkString("{", ",", "}")
  }
}
