package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work counted by tag. A tag is the `perfbench.tag` local property
  * the benchmark sets on the thread that submits the job (a plug thread, a
  * suite query); jobs from `HttpApi` handler threads carry a `serving-*`
  * scheduler pool instead and count as `serving`; anything else is
  * `other`. Tasks are attributed through their stage's job.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val byTag = new ConcurrentHashMap[String, Array[AtomicLong]]()

  private def slot(tag: String): Array[AtomicLong] =
    byTag.computeIfAbsent(tag, _ => Array.fill(Fields.size)(new AtomicLong))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val tag = props.flatMap(p => Option(p.getProperty(TagProperty)))
      .orElse(props.flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
        .filter(_.startsWith("serving-")).map(_ => "serving"))
      .getOrElse("other")
    j.stageIds.foreach(stageTag.put(_, tag))
    slot(tag)(0).incrementAndGet()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val s = slot(stageTag.getOrDefault(t.stageId, "other"))
    s(1).incrementAndGet()
    Option(t.taskMetrics).foreach { m =>
      s(2).addAndGet(m.executorRunTime)
      s(3).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s(4).addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      s(5).addAndGet(m.jvmGCTime)
      s(6).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Counts per tag, after every event posted so far was delivered. */
  def snapshot(sc: SparkContext): Map[String, Map[String, Long]] = {
    org.apache.spark.perfbench.SparkInternals.drainListenerBus(sc)
    import scala.jdk.CollectionConverters._
    byTag.asScala.map { case (k, v) => k -> Fields.zip(v.map(_.get)).toMap }.toMap
  }
}

object SparkCounters {
  val TagProperty = "perfbench.tag"
  val Fields: Seq[String] = Seq("jobs", "tasks", "task_ms", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "output_bytes")

  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prior = sc.getLocalProperty(TagProperty)
    sc.setLocalProperty(TagProperty, tag)
    try body finally sc.setLocalProperty(TagProperty, prior)
  }

  /** b − a, per tag and field. */
  def diff(a: Map[String, Map[String, Long]],
           b: Map[String, Map[String, Long]]): Map[String, Map[String, Long]] =
    b.map { case (tag, f) =>
      tag -> f.map { case (k, v) => k -> (v - a.get(tag).flatMap(_.get(k)).getOrElse(0L)) }
    }
}

/** In-memory spans, written out when the run ends. A span is one call into
  * a layer, timed from the benchmark's side of the call: name, start, end,
  * the span that caused it, and the trace (batch, request or query) it
  * belongs to. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def span[T](name: String, trace: String, parent: Int = 0)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(graft.serving.JsonOut.value(Map("trace" -> trace, "id" -> id, "parent" -> parent,
        "name" -> name, "start_ns" -> t0, "end_ns" -> System.nanoTime())))
    }

  def write(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.write(path, spans.asScala.toSeq.asJava)
  }
}

/** The live heap: heap in use right after full collections, sampled after
  * the timed phases, when the run holds the most state. Objects that a
  * collection only hands to a cleaner or a reference queue (Spark's
  * ContextCleaner, finalizers) are freed by a later collection, so a sample
  * collects three times, a moment apart, and reads the heap after the last.
  */
object LiveHeap {

  /** The live heap now, in MB. */
  def sample(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
