package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result file (no JSON library on the
  * classpath is part of a stable API). Maps keep insertion order.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Epoch-aligned monotonic clock: microseconds since the epoch, taken from
  * `nanoTime` so spans never go backwards, and comparable with the
  * millisecond event times Spark listeners report.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseEpochMicros + (System.nanoTime() - baseNanos) / 1000L
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def micros: Long = end - start
}

/** In-memory span recorder. Spans nest by call structure on the driver
  * thread; disabled tracers run the body and record nothing.
  */
final class Tracer(traced: Boolean, val traceId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var muteDepth = 0

  def enabled: Boolean = traced && muteDepth == 0

  /** Runs `body` without recording spans (warm-up work). */
  def muted[T](body: => T): T = {
    muteDepth += 1
    try body finally muteDepth -= 1
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.micros()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, t0, Clock.micros())
      }
    }

  /** Records a span measured elsewhere (e.g. a job timed by the journal). */
  def add(name: String, layer: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, layer, start, end)
      id
    }

  def current: Int = stack.headOption.getOrElse(0)

  /** Re-parents spans that ran inside `child`'s interval under the same
    * parent — used when a job's span is known only after the fact.
    */
  def adopt(child: Int): Unit = if (enabled) {
    val c = spans.find(_.id == child).get
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.id != c.id && s.parent == c.parent && s.start >= c.start && s.end <= c.end)
        spans(i) = s.copy(parent = c.id)
    }
  }

  /** Self time per layer: each span's duration minus its direct children's. */
  def selfSeconds: Map[String, Double] = {
    val childMicros = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.micros).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.micros - childMicros.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json(mutable.LinkedHashMap("trace_id" -> traceId, "span_id" -> s.id,
        "parent_id" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.start, "end_us" -> s.end))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Spark job / task / SQL / streaming counters. Attached only while a traced
  * pass runs; read after draining the listener bus.
  */
final class Counters extends SparkListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start ms, end ms) of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val lastState = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  def snapshot(): Map[String, Long] = {
    val base = c.asScala.map { case (k, v) => k -> v.get }.toMap
    val st = lastState.values.asScala
    base ++ Map("state_rows" -> st.map(_._1).sum, "state_bytes" -> st.map(_._2).sum)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobIntervals.add((s.longValue, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("scan_rows", m.inputMetrics.recordsRead)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  val sql: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"${phase}_ms", summary.durationMs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Streaming progress reaches every SparkListener on the context's bus,
    * whichever session started the query (the streaming gates run in a
    * child session, whose own StreamingQueryManager a listener on the
    * benchmark's session would not see).
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent =>
      val p = q.progress
      add("stream_batches", 1)
      add("stream_batch_ms",
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      lastState.put(p.runId.toString, (
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    case _ =>
  }
}

object Intervals {
  /** Total length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def busy(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
