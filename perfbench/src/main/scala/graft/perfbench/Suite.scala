package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `suite` workload: the chosen `SparkEntry.queries` entries on
  * `graft.Bench.session(nproc)`. Set-up is `graft.Bench`'s warm pass over
  * every chosen query, which also takes each query's fingerprint; the
  * derived state the queries read (indexes, plug tables) is built and
  * memoized by it, as `SparkEntry.warm` would build it. Then `passes` timed
  * passes, in name order as `graft.Bench` runs them, write each query into
  * the `noop` sink. The fingerprints are checked against `fingerprints.json`
  * after timing. The inputs are fixed (a committed query list over a fixed
  * data tier), so the seed changes nothing here.
  */
object Suite {

  /** Row count and an order-insensitive hash of a query's output. Floating
    * values are narrowed to single precision first, so a plan change that
    * only reorders a floating-point sum keeps the fingerprint.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    // the hashes' sum modulo 2^64, from two 32-bit halves that cannot
    // overflow a long, so ANSI mode's overflow check never fires
    val r = named.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32))).head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (long(0), long(1) + (long(2) << 32))
  }

  private def normalize(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    t match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
      case _: MapType | _: StructType | ArrayType(_: StructType | _: MapType | _: ArrayType, _) =>
        to_json(c)
      case _ => c
    }

  def run(conf: Main.Conf, res: Main.Result, tracer: Tracer): Unit = {
    val spark = graft.Bench.session(conf.cpus.toString)
    val sc = spark.sparkContext
    val counters = SparkCounters.register(sc)
    val planMs = new java.util.concurrent.atomic.AtomicLong
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    res.log("session ready")
    val data = conf.data
    val chosen = conf("queries").split(",").toSet
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => chosen(name) }
    val unknown = chosen -- graft.SparkEntry.queries.keySet
    if (unknown.nonEmpty) res.fail(s"no such queries: ${unknown.toSeq.sorted.mkString(", ")}")

    // graft.Bench's warm pass, which also takes each query's fingerprint
    // and writes it once into the noop sink, so the timed plans are compiled
    val prints = queries.map { case (name, fn) =>
      val fp = try {
        val printed = fingerprint(fn(spark, data))
        fn(spark, data).write.format("noop").mode("overwrite").save()
        Some(printed)
      } catch {
        case e: Throwable =>
          res.fail(s"$name: warm pass threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      graft.core.CacheScope.release()
      name -> fp
    }.toMap
    res.log("warm pass done")
    res.setupDone()

    var pass = 0
    while (pass < conf.int("passes")) {
      val before = counters.snapshot(sc)
      val (c0, ms0) = org.apache.spark.perfbench.SparkInternals.codegenCompile()
      var passPlanMs = 0L
      queries.foreach { case (name, fn) =>
        res.attempted.incrementAndGet()
        val family = Families.of(name)
        planMs.set(0)
        val t0 = System.nanoTime()
        try tracer.span(s"suite.query.$family", s"q:$name") { id =>
          SparkCounters.tagged(sc, s"q:$family:$name") {
            val df = tracer.span("suite.build", s"q:$name", id)(_ => fn(spark, data))
            df.write.format("noop").mode("overwrite").save()
            planMs.addAndGet(df.queryExecution.tracker.phases.values.map(_.durationMs).sum)
          }
        } catch {
          case e: Throwable => res.fail(s"$name: pass $pass threw ${e.getMessage}")
        }
        val wall = (System.nanoTime() - t0) / 1e6
        graft.core.CacheScope.release()
        org.apache.spark.perfbench.SparkInternals.drainListenerBus(sc)
        passPlanMs += planMs.get
        res.sample(s"query_ms.$family:$name", wall)
      }
      res.sample("pass_plan_ms", passPlanMs.toDouble)
      val (c1, ms1) = org.apache.spark.perfbench.SparkInternals.codegenCompile()
      res.sample("pass_codegen_compile_ms", ms1 - ms0)
      res.sample("pass_codegen_compiles", (c1 - c0).toDouble)
      // one pass of counters, so the totals compare with graft.Bench's
      // plan_metrics for the same commit and core count
      if (pass == 0) res.counters = SparkCounters.diff(before, counters.snapshot(sc))
      pass += 1
      res.log(s"pass $pass done")
    }
    res.timedDone()
    res.values("storage_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    // correctness, outside the timed region
    val expected = Fingerprints.load(conf("fingerprints"))
    queries.foreach { case (name, _) =>
      (prints.get(name).flatten, expected.get(name)) match {
        case (Some(got), Some(want)) if got == want => ()
        case (got, want) => res.fail(s"$name: fingerprint $got, expected $want")
      }
    }
    spark.stop()
  }
}

/** The query-name families the per-layer metrics group by. */
object Families {
  def of(name: String): String = name match {
    case n if n.startsWith("dedup_") => "operators.dedup"
    case n if n.startsWith("sim_") || n.startsWith("emb_") => "operators.similarity"
    case n if n.startsWith("text_") => "operators.text"
    case n if n.startsWith("stats_") || n.startsWith("sketch_") => "operators.stats"
    case n if n.startsWith("sample_") => "operators.sampling"
    case _ => "other"
  }
}

/** The committed per-query fingerprints: `{"name": [rows, hash], ...}`. */
object Fingerprints {
  private val Entry = "\"([^\"]+)\"\\s*:\\s*\\[\\s*(-?\\d+)\\s*,\\s*(-?\\d+)\\s*\\]".r

  def load(path: String): Map[String, (Long, Long)] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else Entry.findAllMatchIn(java.nio.file.Files.readString(f))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }
}
