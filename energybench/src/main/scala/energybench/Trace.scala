package energybench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** One timed call into a layer. `parent` is -1 for a root span. */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: String, val start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: the listener adds every task of
  * every job submitted while the span was the innermost open one.
  */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var gcMs = 0L

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "gc_ms" -> gcMs)
}

/** Attributes jobs to spans through the job-local property the tracer
  * sets, and task metrics to the span of the job that ran them.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  private val counters = mutable.Map[Int, SparkCounters]()

  private def of(span: Int) = counters.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .foreach { s =>
        val span = s.toInt
        of(span).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = span)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(span)
      c.tasks += 1
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.gcMs += m.jvmGCTime
    }
  }

  def snapshot(): Map[Int, SparkCounters] = synchronized(counters.toMap)
}

/** The benchmark's tracer. Off, `span` only runs its body and `boundary`
  * returns its argument unchanged, so the untraced run executes exactly
  * the calls a user of the engine would make. On, every layer call is a
  * span and every layer output is materialized where the layer ends, so
  * a span covers only its own layer's work.
  */
object Trace {
  val SpanKey = "energybench.span"

  var enabled = false
  var run = ""
  private var sc: SparkContext = _
  private var listener: SpanListener = _
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Numeric facts recorded against the innermost span (rows, files…). */
  private val facts = mutable.Map[Int, mutable.Map[String, Double]]()

  def install(context: SparkContext): Unit = {
    sc = context
    listener = new SpanListener
    sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.length, name, parent, run, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Materialize a layer's output at its boundary (traced runs only). */
  def boundary(df: DataFrame): DataFrame =
    if (!enabled) df else df.localCheckpoint(eager = true)

  /** Add `value` to the named fact of the innermost open span. */
  def fact(name: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach { s =>
      val m = facts.getOrElseUpdate(s.id, mutable.Map())
      m(name) = m.getOrElse(name, 0.0) + value
    }

  def allSpans: Seq[Span] = spans.toSeq
  def factsOf(id: Int): Map[String, Double] =
    facts.get(id).map(_.toMap).getOrElse(Map.empty)

  def sparkCounters(): Map[Int, SparkCounters] = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    listener.snapshot()
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover.
    */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfSeconds(spans.toSeq)
    val counters = sparkCounters()
    val lines = spans.map { s =>
      Json.render(Map("run" -> s.run, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> self(s.id), "facts" -> factsOf(s.id),
        "spark" -> counters.get(s.id).map(_.toMap).getOrElse(Map.empty)))
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
