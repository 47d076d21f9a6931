package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's own calls into each engine layer, plus the
  * executor task metrics of the jobs those calls start.
  *
  * A span is (id, name, parent, op id, start, end). Opening a span points
  * the driver thread's job group at it, so every Spark job the wrapped
  * call submits is attributed to the innermost open span; a listener
  * registered here sums the task metrics of those jobs per span. Spans and
  * counters stay in memory until [[report]].
  *
  * A disabled tracer runs the wrapped code and nothing else: no listener,
  * no job group, no clock reads.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val start: Long) {
    var end: Long = -1L
    var childNanos: Long = 0L
    def selfNanos: Long = end - start - childNanos
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val counters = new ConcurrentHashMap[Int, Array[Long]]()
  /** Values a span's caller measured itself (rows, sizes), by span id. */
  private val notes = mutable.Map.empty[(Int, String), Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith(GroupPrefix)) {
        val id = Integer.valueOf(group.stripPrefix(GroupPrefix).toInt)
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val c = counters.computeIfAbsent(id.intValue, _ => new Array[Long](NCounters))
        c.synchronized {
          c(RunMs) += m.executorRunTime
          c(GcMs) += m.jvmGCTime
          c(ShuffleRead) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten
          c(Spill) += m.diskBytesSpilled
          c(InputBytes) += m.inputMetrics.bytesRead
          c(InputRecords) += m.inputMetrics.recordsRead
          c(OutputBytes) += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private var opId = 0
  /** Starts a new op; spans opened afterwards carry its id. */
  def nextOp(): Unit = opId += 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id), opId, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try f
      finally {
        s.end = System.nanoTime()
        open = open.tail
        parent.foreach(_.childNanos += s.end - s.start)
        open.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Runs `f` with no span attributed: counts and audits between spans. */
  def untraced[T](f: => T): T =
    if (!enabled) f
    else {
      sc.clearJobGroup()
      try f
      finally open.headOption.foreach(p =>
        sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false))
    }

  /** Attaches a caller-measured value to the latest span named `name`. */
  def note(name: String, key: String, value: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name)
      .foreach(s => notes((s.id, key)) = value)

  /** Per span name, per metric: the median over ops of the per-op sum.
    * Task metrics need the listener bus drained first ([[ListenerDrain]]).
    */
  def report(): Map[String, Map[String, Double]] = {
    if (!enabled) return Map.empty
    ListenerDrain(sc)
    spans.groupBy(_.name).map { case (name, ss) =>
      val byOp = ss.groupBy(_.op).values.toSeq
      def med(f: Span => Double): Double = median(byOp.map(_.map(f).sum))
      def counter(i: Int, scale: Double)(s: Span): Double =
        Option(counters.get(s.id)).fold(0L)(_(i)) / scale
      val noted = ss.flatMap(s => notes.keys.filter(_._1 == s.id).map(_._2)).distinct
      name -> (Map(
        "self_s" -> med(_.selfNanos / 1e9),
        "wall_s" -> med(s => (s.end - s.start) / 1e9),
        "task_s" -> med(counter(RunMs, 1e3)),
        "gc_s" -> med(counter(GcMs, 1e3)),
        "shuffle_read_mb" -> med(counter(ShuffleRead, Mb)),
        "shuffle_write_mb" -> med(counter(ShuffleWrite, Mb)),
        "spill_mb" -> med(counter(Spill, Mb)),
        "input_read_mb" -> med(counter(InputBytes, Mb)),
        "input_records" -> med(counter(InputRecords, 1.0)),
        "bytes_written_mb" -> med(counter(OutputBytes, Mb))) ++
        noted.map(k => k -> median(ss.flatMap(s => notes.get((s.id, k))).toSeq)))
    }
  }

  /** Every closed span, for the run's trace file. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> s.selfNanos / 1e9)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  private val GroupPrefix = "perfbench-span-"
  private val Mb = 1024.0 * 1024.0
  private val RunMs = 0; private val GcMs = 1; private val ShuffleRead = 2
  private val ShuffleWrite = 3; private val Spill = 4; private val InputBytes = 5
  private val InputRecords = 6; private val OutputBytes = 7
  private val NCounters = 8

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
