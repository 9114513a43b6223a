package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, started by `run.py`:
  *
  * {{{
  * Main workload=<ingest|suite> seed=<n> trace=<0|1>
  *      data=<dir> state=<dir> out=<raw.json> t0_ms=<epoch ms> [key=value ...]
  * }}}
  *
  * `data` holds the generated tables, `state` is the run's empty state
  * directory. The raw result (samples, counters, correctness) goes to
  * `out`; `run.py` turns it into the metrics. The exit code is 0 when the
  * run completed, whether or not its outputs were correct.
  */
object Main {

  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def long(k: String): Long = apply(k).toLong
    val workload: String = apply("workload")
    val seed: Long = long("seed")
    val trace: Boolean = apply("trace") == "1"
    val data: String = apply("data")
    val state: String = apply("state")
    val t0Ms: Long = long("t0_ms")
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  /** What a workload reports: raw samples and values, Spark counters per
    * tag, operations attempted and failed, and the correctness findings.
    */
  final class Result(conf: Conf) {
    val values = mutable.LinkedHashMap[String, Any]()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val attempted = new java.util.concurrent.atomic.AtomicLong
    val failed = new java.util.concurrent.atomic.AtomicLong
    var counters: Map[String, Map[String, Long]] = Map.empty

    def sample(name: String, v: Double): Unit =
      samples.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(v)

    /** Records a failed check; the first few findings are kept verbatim. */
    def fail(msg: String): Unit = {
      failed.incrementAndGet()
      if (errors.size < 20) errors.add(msg)
      System.err.println(s"[perfbench] FAILED: $msg")
    }

    /** Marks the end of set-up: the first timed operation starts now. The
      * heap is not sampled here: a full collection before timing shrinks the
      * heap, and the first timed repetition paid for growing it again.
      */
    def setupDone(): Unit = {
      values("setup_s") = (System.currentTimeMillis() - conf.t0Ms) / 1000.0
      log("set-up done")
    }

    /** Marks the end of the timed phases. */
    def timedDone(): Unit = {
      log("timed phases done")
      values("mem_peak_mb") = LiveHeap.sample()
    }

    /** A progress line in the run's log, stamped with seconds since start. */
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - conf.t0Ms) / 1000.0}%.1f s: $msg")

    def render(): String = {
      import scala.jdk.CollectionConverters._
      graft.serving.JsonOut.value(Map(
        "workload" -> conf.workload,
        "seed" -> conf.seed,
        "cpus" -> conf.cpus,
        "attempted" -> attempted.get,
        "failed" -> failed.get,
        "errors" -> errors.asScala.toSeq,
        "values" -> values.toMap,
        "samples" -> samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap,
        "counters" -> counters))
    }
  }

  /** The serving session, as `tools/ServeBench` builds it: FAIR scheduling
    * (a static conf) so `HttpApi`'s per-thread pools share the executors,
    * sized to the machine's cores.
    */
  def fairSession(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.GraftSession.configure(spark)
  }

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument must be key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val res = new Result(conf)
    val tracer = new Tracer(conf.trace)
    conf.workload match {
      case "suite" => Suite.run(conf, res, tracer)
      case "ingest" => Ingest.run(conf, res, tracer)
      case w => sys.error(s"unknown workload $w")
    }
    if (conf.trace) tracer.write(java.nio.file.Paths.get(conf("spans")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(conf("out")), res.render())
    res.log("result written")
  }
}
