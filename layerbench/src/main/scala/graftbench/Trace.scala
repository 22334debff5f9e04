package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `op` names the operation the span
  * belongs to (`pass:query` or `pass:stage`); `parent` is 0 at the
  * top level. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    pass: Int, start: Long, end: Long) {
  def sec: Double = (end - start) / 1e9
}

/** Records spans around the harness's calls into the program, in
  * memory. While `tagging` is set, every Spark job started inside a
  * span carries the span's name and operation as local properties, so
  * the [[Collector]] can attribute jobs, stages and tasks to layers. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  var pass = -1
  var tagging: Option[SparkContext] = None
  private var stack = List(0)
  private var nextId = 1

  def apply[T](name: String, op: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val prev = tagging.map(sc =>
      (sc, sc.getLocalProperty(Tracer.PhaseKey), sc.getLocalProperty(Tracer.OpKey)))
    prev.foreach { case (sc, _, _) =>
      sc.setLocalProperty(Tracer.PhaseKey, name)
      sc.setLocalProperty(Tracer.OpKey, op)
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      prev.foreach { case (sc, p, o) =>
        sc.setLocalProperty(Tracer.PhaseKey, p)
        sc.setLocalProperty(Tracer.OpKey, o)
      }
      stack = stack.tail
      spans += Span(id, parent, name, op, pass, t0, t1)
    }
  }

  /** A span measured by the caller, filed under the innermost open span. */
  def record(name: String, op: String, start: Long, end: Long): Unit = {
    spans += Span(nextId, stack.head, name, op, pass, start, end)
    nextId += 1
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"
  val OpKey = "graftbench.op"
}

/** Totals of the tasks of one layer (phase tag). Byte counts in bytes,
  * times in ms. */
final class Acc {
  var jobs, stages, tasks, taskMs, maxTaskMs = 0L
  var shuffleRead, shuffleWrite, spill, inBytes, inRows, outRows = 0L
}

/** A job's run interval in epoch ms, with the span that started it. */
final case class JobSpan(start: Long, end: Long, phase: String, op: String)

/** Spark listener for the traced run: jobs, stages and tasks per
  * layer, and the peak of cached RDD bytes. */
final class Collector extends SparkListener {
  val byPhase = mutable.Map.empty[String, Acc]
  val jobs = ArrayBuffer.empty[JobSpan]
  var cachedPeak = 0L
  private val open = mutable.Map.empty[Int, (Long, String, String)]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow = 0L

  private def acc(phase: String) = byPhase.getOrElseUpdate(phase, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
      .getOrElse("untagged")
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).getOrElse("")
    open(e.jobId) = (e.time, phase, op)
    e.stageIds.foreach(stagePhase(_) = phase)
    acc(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, phase, op) =>
      jobs += JobSpan(t0, e.time, phase, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      acc(stagePhase.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stagePhase.getOrElse(e.stageId, "untagged"))
    val d = e.taskInfo.duration
    a.tasks += 1
    a.taskMs += d
    a.maxTaskMs = math.max(a.maxTaskMs, d)
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        if (info.storageLevel.isValid) cached(key) = info.memSize + info.diskSize
        else cached.remove(key)
        cachedNow = cached.values.sum
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
}

/** Streaming listener for the traced run: micro-batch counts and the
  * summed `durationMs` phases of every progress report. */
final class StreamCollector extends StreamingQueryListener {
  var batches, inputRows = 0L
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    inputRows += p.numInputRows
    p.durationMs.forEach((k, v) => phaseMs(k) += v.longValue)
  }
}

/** Machine load over an interval, read from /proc: the 1-minute load
  * average and the share of all CPU time that processes other than
  * this one used. */
final class HostLoad {
  private def machine: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    // user nice system idle iowait irq softirq steal
    val total = f.take(8).sum
    (total, total - f(3) - f(4))
  }
  private def self: Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val s = try src.mkString finally src.close()
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong // utime + stime
  }
  private def loadavg: Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }

  private val (total0, busy0) = machine
  private val self0 = self
  val loadStart: Double = loadavg

  /** (load average at start, at end, other processes' CPU share). */
  def finish(): (Double, Double, Double) = {
    val (total1, busy1) = machine
    val other = ((busy1 - busy0) - (self - self0)).toDouble /
      math.max(1L, total1 - total0)
    (loadStart, loadavg, math.max(0.0, other))
  }
}
