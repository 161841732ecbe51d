package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A timed call into one layer. Spans of one query or one fix batch
  * share `trace`; `parent` is 0 for a root span. Times are
  * `System.nanoTime`. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder. When off, `span` only runs its body, so the
  * untraced run pays nothing for it. Spans are written out once, by
  * [[write]], after the run. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def newTrace(): Long = ids.incrementAndGet()

  def span[T](name: String, trace: Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(trace, id, parent, name, t0, t1) }
      }
    }

  /** Records a span timed elsewhere; returns its id. */
  def add(name: String, trace: Long, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    synchronized { spans += Span(trace, id, parent, name, startNs, endNs) }
    id
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover. */
  def selfNs: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end)
          else (acc + b - math.max(a, end), b)
        }._1
      s.id -> (s.ns - covered)
    }.toMap
  }

  def write(path: Path): Unit = {
    val self = selfNs
    val lines = all.map { s =>
      s"""{"trace":${s.trace},"span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark work attributed to one group: a job group the benchmark sets
  * around a layer call, or a streaming micro-batch. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var taskWaitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  /** (submission ms, completion ms, ids of persisted RDDs it computed) */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long, Seq[Int])]
}

/** Counts jobs, stages and tasks, task run time and launch wait,
  * shuffle and spill bytes and peak execution memory, per group. A
  * job's group is its job group id; in a streaming micro-batch it is
  * `batch:<id>`, except for the sink's own `sink:<id>` group. */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      val group = Option(p.getProperty(LayerListener.JobGroup))
      group.filter(_.startsWith("sink:"))
        .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _))
        .orElse(group)
    }.getOrElse("")

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val c = counters(stageGroup.getOrElse(i.stageId, ""))
    c.stages += 1
    val cached = i.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    val t0 = stageSubmitted.getOrElse(i.stageId, i.submissionTime.getOrElse(0L))
    c.stageSpans += ((t0, i.completionTime.getOrElse(t0), cached))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    stageSubmitted.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.taskBusyMs += m.executorRunTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Counters by group. Drain the bus first (`PerfbenchBus.drain`) for
    * the events of jobs that just ended. */
  def groups: Map[String, Counters] = synchronized(byGroup.toMap)
}

object LayerListener {
  /** The local property Spark keeps a thread's job group in. */
  val JobGroup = "spark.jobGroup.id"
}
