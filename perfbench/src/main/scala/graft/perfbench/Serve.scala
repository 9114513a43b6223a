package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

/** The request mix over the reference's API routes. Every route gets the
  * same number of requests, as `tools/ServeBench` cycles through its
  * routes, and every route but `/api` half hot, half cold. A hot request
  * repeats one of a small set of URIs, which fits the API's prepared-plan
  * and result caches; a cold one carries fresh parameters (block ranges,
  * urls, authors, tags) from domains far larger than those caches. No
  * traffic sample of the reference is at hand, so these even shares are an
  * assumption, not a measured mix.
  */
final class Mix(seed: Long, blocks: Int, livePolls: IndexedSeq[(String, String)]) {
  import Mix._
  private def range(r: scala.util.Random): String = {
    val lo = r.nextInt(blocks)
    val hi = lo + 1 + r.nextInt(blocks - lo)
    s"block_range=%5B$lo,$hi%5D"
  }

  private def uri(route: String, r: scala.util.Random, hot: Boolean): String = {
    // hot parameters come from small domains; cold ones from large ones
    val j = if (hot) r.nextInt(2) else r.nextInt(25)
    val k = if (hot) j else r.nextInt(25)
    route match {
      case "counts" =>
        if (hot) s"/api/podping/history/counts?limit=${10 + j}"
        else s"/api/podping/history/counts?${range(r)}&limit=${1 + r.nextInt(50)}"
      case "latest" =>
        if (hot) s"/api/podping/feeds/latest?url=url_${j * 3}"
        else s"/api/podping/feeds/latest?url=url_${r.nextInt(20)}&limit=${6 + r.nextInt(500)}"
      case "active" =>
        if (hot) (if (j == 0) "/api/polls/active" else s"/api/polls/active?tag=tag${j % 3}")
        else s"/api/polls/active?tag=t${r.nextInt(100000)}"
      case "ops" =>
        val t = Seq("create", "vote", "delete")(r.nextInt(3))
        if (hot) s"/api/polls/ops?op_type=${Seq("create", "vote", "delete")(j % 3)}&block_range=%5B0,$blocks%5D"
        else s"/api/polls/ops?op_type=$t&${range(r)}"
      case "user" =>
        if (hot) s"/api/polls/user?author=owner_$j"
        else s"/api/polls/user?author=user_${r.nextInt(100000)}"
      case "poll" =>
        // the route answers 400 for a missing or deleted poll: ask for live ones
        val (a, p) = livePolls(if (hot) j % livePolls.size else r.nextInt(livePolls.size))
        s"/api/polls/poll?author=$a&permlink=$p"
      case "votes" => s"/api/polls/votes?author=owner_$j&permlink=poll_$k"
      case "summary" => s"/api/polls/summary?author=owner_$j&permlink=poll_$k"
      case "api" => "/api"
    }
  }

  /** The hot set: every hot URI of every route. */
  val hot: IndexedSeq[(String, String)] =
    Routes.flatMap(r => (0 until 2).map(j => r -> uri(r, new scala.util.Random(seed * 131 + j), hot = true)))
      .distinct.toIndexedSeq

  private val hotByRoute = hot.groupBy(_._1)

  /** `n` requests, (route, uri), in a seeded order: each route in turn,
    * hot and cold on alternate rounds, so every run sends the same mix.
    */
  def draw(n: Int, r: scala.util.Random): IndexedSeq[(String, String)] =
    r.shuffle((0 until n).map(i => (Routes(i % Routes.size), (i / Routes.size) % 2 == 0)))
      .map { case (route, hot) =>
        if (route == "api" || hot) {
          val h = hotByRoute(route)
          h(r.nextInt(h.size))
        } else route -> uri(route, r, hot = false)
      }
}

object Mix {
  val Routes: Seq[String] = Seq("counts", "latest", "active", "ops", "user", "poll", "votes", "summary", "api")
}

/** Drives an `HttpApi` with one process's clients: at most `clients`
  * threads, each with its own connection. Every response must be 200 and
  * carry the same body as every other response to the same URI; the
  * clock-derived `time_since_last_update` field is left out of that
  * comparison.
  */
final class Load(port: Int, clients: Int, res: Main.Result, tracer: Tracer) {
  private val bodies = new ConcurrentHashMap[String, String]()
  private val TimeSince = "\"time_since_last_update\":\\s*[-0-9a-z.]+".r

  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** One GET; returns (status, normalized body). */
  def get(c: HttpClient, uri: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$uri")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), TimeSince.replaceAllIn(r.body(), "\"time_since_last_update\":_"))
  }

  /** Single-threaded requests whose bodies become the reference. */
  def reference(uris: Iterable[String]): Unit = {
    val c = client()
    uris.foreach { u =>
      val (code, body) = get(c, u)
      if (code != 200) res.fail(s"serving warm-up $u: status $code")
      else bodies.put(u, body)
    }
  }

  /** Re-request, single-threaded, every URI served under load; its body
    * must equal the one served under load.
    */
  private val seen = ConcurrentHashMap.newKeySet[String]()
  def verify(): Unit = {
    val c = client()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.sorted.foreach { u =>
      val (code, body) = get(c, u)
      if (code != 200) res.fail(s"serving verify $u: status $code")
      else if (bodies.get(u) != body)
        res.fail(s"serving verify $u: body differs from the one served under load: ${Load.diff(bodies.get(u), body)}")
    }
  }

  private def send(c: HttpClient, route: String, uri: String, t0: Long): Unit = {
    res.attempted.incrementAndGet()
    val ok = try tracer.span(s"serving.route.$route", s"r:${Thread.currentThread.getId}:$t0") { _ =>
      val (code, body) = get(c, uri)
      res.sample(s"serving.response_bytes", body.length.toDouble)
      if (code != 200) { res.fail(s"serving $uri: status $code"); false }
      else {
        seen.add(uri)
        val prior = bodies.putIfAbsent(uri, body)
        if (prior != null && prior != body) {
          res.fail(s"serving $uri: body changed under load: ${Load.diff(prior, body)}"); false
        }
        else true
      }
    } catch { case e: Exception => res.fail(s"serving $uri: ${e.getMessage}"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    // a failed request misses every latency limit
    val counted = if (ok) ms else Double.PositiveInfinity
    res.sample("serving.latency_ms", counted)
    res.sample(s"serving.route.$route.ms", counted)
  }

  /** Open loop: `rate` × `seconds` requests of the mix are due on a seeded
    * Poisson schedule at `rate` per second; each is timed from its due
    * time. Returns the number of requests sent.
    */
  def openLoop(mix: Mix, seed: Long, rate: Double, seconds: Double, stop: () => Boolean): Int = {
    val r = new scala.util.Random(seed)
    val n = math.ceil(rate * seconds).toInt
    val times = Iterator.iterate(0.0)(t => t - math.log(1 - r.nextDouble()) / rate).drop(1).take(n)
    val schedule = times.toIndexedSeq.zip(mix.draw(n, r))
    val queue = new LinkedBlockingQueue[Option[(Long, (String, String))]]()
    val workers = (0 until clients).map { _ =>
      val t = new Thread(() => {
        val c = client()
        var item = queue.take()
        while (item.isDefined) {
          val (due, (route, uri)) = item.get
          send(c, route, uri, due)
          item = queue.take()
        }
      })
      t.start(); t
    }
    val start = System.nanoTime()
    var sent = 0
    schedule.takeWhile(_ => !stop()).foreach { case (at, req) =>
      val due = start + (at * 1e9).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      res.sample("gen.late_ms", math.max(0L, System.nanoTime() - due) / 1e6)
      queue.put(Some(due -> req))
      sent += 1
    }
    workers.foreach(_ => queue.put(None))
    workers.foreach(_.join())
    sent
  }
}

object Load {
  /** The first difference between two bodies, with a little context. */
  def diff(a: String, b: String): String = {
    val i = a.zip(b).indexWhere { case (x, y) => x != y } match {
      case -1 => math.min(a.length, b.length)
      case n => n
    }
    s"at $i: '${a.slice(i - 40, i + 40)}' vs '${b.slice(i - 40, i + 40)}'"
  }
}

/** The serving side of the `ingest` workload. */
object Serve {

  /** An `HttpApi` over `SparkEntry.servingTables` of `data`, with the
    * request mix over its data. Every hot URI is requested once to build the
    * point indexes and, once they are current, again: those single-threaded
    * bodies are the reference.
    */
  def startApi(spark: org.apache.spark.sql.SparkSession, conf: Main.Conf, blocks: Int,
               res: Main.Result, tracer: Tracer): (graft.serving.HttpApi, Load, Mix) = {
    val tables = graft.SparkEntry.servingTables(spark, conf.data)
    tables.values.foreach(_.count())
    res.log("serving tables materialized")
    val livePolls = tables("polls_content").filter("NOT deleted").select("author", "permlink")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toIndexedSeq
    val mix = new Mix(conf.seed, blocks, livePolls)
    val api = new graft.serving.HttpApi(tables)
    val port = api.start("127.0.0.1", 0, nThreads = conf.cpus)
    val load = new Load(port, conf.cpus, res, tracer)
    val hot = mix.hot.map(_._2)
    // one request per route starts the point-index builds
    val c = load.client()
    mix.hot.groupBy(_._1).values.foreach(h => load.get(c, h.head._2))
    api.awaitPointIndexes()
    load.reference(hot)
    res.log(s"API warm: ${hot.size} hot URIs")
    (api, load, mix)
  }

  /** The API's own counters: gate waits and executions, cache hits, sheds
    * and point-index use.
    */
  def apiCounters(api: graft.serving.HttpApi): Map[String, Long] = {
    val (indexHits, indexBuilds) = api.pointIndexStats
    Map("queue_ns" -> api.queueNanos.get, "exec_ns" -> api.execNanos.get,
      "gated" -> api.gatedCount.get, "result_cache_hits" -> api.resultCacheHits.get,
      "plan_cache_hits" -> api.planCacheHits.get, "coalesced" -> api.coalescedHits.get,
      "shed" -> api.shedCount.get, "point_index_hits" -> indexHits,
      "point_index_builds" -> indexBuilds)
  }

  /** Records the API counters accrued since `before` as `serving.*`. */
  def apiValues(api: graft.serving.HttpApi, before: Map[String, Long], res: Main.Result): Unit =
    apiCounters(api).foreach { case (k, v) => res.values(s"serving.$k") = v - before(k) }
}
