package driftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.Side

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** One timed interval. `trace` is the id of the root span it belongs to;
  * Spark job spans get theirs when the spans are written out.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest through an inheritable thread-local,
  * so calls made on the thread pool `DriftCompare.compareAll` creates are
  * children of the span open when the pool was started.
  */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Span]

  def nextId(): Long = ids.getAndIncrement()
  def currentId: Long = Option(current.get).map(_.id).getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val id = nextId()
      val open = Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.trace, name, System.nanoTime(), 0L)
      current.set(open)
      try body
      finally {
        spans.add(open.copy(endNs = System.nanoTime()))
        current.set(parent)
      }
    }

  /** A span whose Spark jobs are attributed to it through the job group. */
  def sparkSpan[T](sc: SparkContext, name: String)(body: => T): T =
    span(name) {
      if (!enabled) body
      else {
        sc.setJobGroup(s"span-$currentId", name)
        try body finally sc.clearJobGroup()
      }
    }

  /** Self time: duration minus the part of it covered by child spans. */
  def selfNs(all: Iterable[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}

/** A [[Side]] that records a span around every call into the sources layer. */
final class TracingSide(inner: Side) extends Side {
  override def id: String = inner.id
  override def listTables(): Seq[String] = Tracer.span("sources.listTables")(inner.listTables())
  override def table(name: String): DataFrame = Tracer.span("sources.table")(inner.table(name))
  override def schema(name: String): StructType = Tracer.span("sources.schema")(inner.schema(name))
}

/** Spark task and stage counts summed over the jobs of one span. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var recordsRead, bytesRead = 0L
  var shuffleWriteBytes, shuffleWriteRecords, fetchWaitMs, spillBytes, peakExecBytes = 0L
  var runMs, cpuNs, gcMs = 0L
}

/** Attributes Spark jobs, stages and task metrics to the span whose job
  * group launched them, and records each job as a `spark.job` span.
  * Event times are wall-clock milliseconds; `offsetNs` maps them onto the
  * `System.nanoTime` scale the other spans use.
  */
final class LayerListener extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  val stats = new ConcurrentHashMap[Long, GroupStats]()

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)

  private def statsOf(span: Long): GroupStats = stats.computeIfAbsent(span, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
    statsOf(s).synchronized(statsOf(s).jobs += 1)
    jobStart.put(e.jobId, (s, e.time))
    e.stageIds.foreach(stageSpan.put(_, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
    case (s, t0) =>
      Tracer.spans.add(Span(Tracer.nextId(), s, 0L, "spark.job",
        t0 * 1000000L + offsetNs, e.time * 1000000L + offsetNs))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      statsOf(s).synchronized(statsOf(s).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val g = statsOf(s)
      val m = e.taskMetrics
      g.synchronized {
        g.tasks += 1
        if (m != null) {
          g.recordsRead += m.inputMetrics.recordsRead
          g.bytesRead += m.inputMetrics.bytesRead
          g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          g.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          g.peakExecBytes = math.max(g.peakExecBytes, m.peakExecutionMemory)
          g.runMs += m.executorRunTime
          g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
        }
      }
    }
}
